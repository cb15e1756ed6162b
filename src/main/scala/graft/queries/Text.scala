package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.io.Corpus
import graft.functions.{GraftExpressions, TextFunctions}
import graft.functions.TextFunctions._
import graft.operators.{Bpe, Dedup, Retrieval, Similarity}
import graft.util.CacheRegistry

/** Text-analysis + deduplication operator surface for training-data
  * pipelines (the BASELINE.json north-star ops), over the `documents`
  * table. All scoring is built-in-function composition (codegen'd); the
  * oracle mirrors use DuckDB list/regex functions with identical
  * semantics.
  */
object Text {

  // Shared SQL fragments (DuckDB): whitespace tokens with empties dropped.
  private[queries] val toksSql = "list_filter(str_split(text, ' '), t -> t <> '')"

  // DuckDB mirror of TextFunctions.wsTokens (\s+ split) — the unigram
  // word table's tokenization since the tab/newline hardening; equal to
  // toksSql on single-space text, diverges exactly where the engine does
  private[queries] val wsToksSql =
    """list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')"""

  // DuckDB mirror of Sampling.portableFingerprint — the portable mod-2³¹
  // fold is a cross-engine CONTRACT (split/sampling/packing oracles all
  // gate on it), so it has exactly one Spark definition and this one SQL
  // definition (package-visible: the v08 centroid-pick oracle reuses it).
  private[queries] def foldSql(e: String): String =
    s"""list_reduce(
       |  list_prepend(CAST(0 AS BIGINT), list_transform(str_split($e, ''), c -> CAST(ord(c) AS BIGINT))),
       |  (h, c) -> (h * 31 + c) % 2147483647)""".stripMargin

  // DuckDB mirror of Sampling.portableUniformFingerprint — the avalanche
  // remix used wherever the fold is consumed as a uniform or an ordering
  // (seeded per-id draws, fingerprint-picked samples). Raw-fold bucket
  // and identity uses keep foldSql.
  private[queries] def mixSql(e: String): String =
    s"((${foldSql(e)}) * 2654435761) % 2147483647"

  /** Token counting: whitespace tokens, BPE-ish subword count, mean token
    * length. */
  private def t01(spark: SparkSession, dir: String): DataFrame =
    Corpus.documents(spark, dir)
      .withColumn("n_tokens", tokenCount(col("text")).cast("long"))
      .filter(col("n_tokens") > 0)
      .select(
        col("doc_id"),
        col("n_tokens"),
        size(bpeTokens(col("text"))).cast("long").as("n_bpe_tokens"),
        length(regexp_replace(col("text"), " ", "")).cast("double")
          ./(col("n_tokens")).as("mean_token_len"))
      .orderBy(col("doc_id"))

  private val t01Sql =
    s"""SELECT doc_id,
       |  CAST(len($toksSql) AS BIGINT) AS n_tokens,
       |  CAST(len(regexp_extract_all(text, '[a-z]+|[^a-z\\s]')) AS BIGINT) AS n_bpe_tokens,
       |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len($toksSql) AS mean_token_len
       |FROM documents
       |WHERE len($toksSql) > 0
       |ORDER BY doc_id""".stripMargin

  /** Per-doc quality signals — ONE Spark-side definition, mirrored
    * column-for-column by [[docSignalsSql]] (t02's oracle hash proves the
    * per-row doubles bit-match): doc_id, lang, text, toks, n_tokens,
    * stop_hits, stop_ratio, punct_ratio, quality, n_distinct,
    * dup_token_frac; zero-token docs drop. Shared by t02 (per-doc), t18
    * (repetition), t21 (rollup), t24 (keep-one), and t25 (manifest) so
    * the arithmetic cannot drift between them. */
  private def docSignals(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .filter(col("n_tokens") > 0)
      .withColumn("stop_hits", stopwordHits(col("toks")))
      .withColumn("stop_ratio", col("stop_hits").cast("double") / col("n_tokens"))
      .withColumn("punct_ratio", punctRatio(col("text")))
      .withColumn("quality",
        TextFunctions.qualityScore(col("n_tokens"), col("stop_ratio"), col("punct_ratio")))
      .withColumn("n_distinct", size(array_distinct(col("toks"))))
      .withColumn("dup_token_frac",
        (col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens"))

  /** Quality scoring: stopword ratio, punctuation density, composite
    * quality in [0,1]. Identical arithmetic structure on both sides so
    * doubles match bit-for-bit. */
  private def t02(spark: SparkSession, dir: String): DataFrame =
    docSignals(Corpus.documents(spark, dir))
      .select(
        col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("stop_hits").cast("long").as("stop_hits"),
        col("stop_ratio"),
        col("punct_ratio"),
        col("quality"))
      .orderBy(col("doc_id"))

  // SQL mirror of TextFunctions.qualityScore — keep the arithmetic
  // token-for-token identical or per-row doubles diverge.
  private val qualitySql =
    "least(1.0, n_tokens / 200.0) * 0.5 + least(1.0, stop_ratio * 4.0) * 0.3 + (1.0 - punct_ratio) * 0.2"

  // Per-doc signal subquery — the SQL mirror of [[docSignals]], shared by
  // the t02/t18/t21/t24/t25 oracles.
  private val docSignalsSql = {
    val stopList = TextFunctions.StopwordList.map(s => s"'$s'").mkString(", ")
    s"""SELECT doc_id, lang, text, sp, n_tokens, stop_hits,
       |        CAST(stop_hits AS DOUBLE) / n_tokens AS stop_ratio,
       |        CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
       |        len(list_distinct(sp)) AS n_distinct,
       |        CAST(n_tokens - len(list_distinct(sp)) AS DOUBLE) / n_tokens AS dup_token_frac
       |      FROM (SELECT doc_id, lang, text, $toksSql AS sp, len($toksSql) AS n_tokens,
       |              len(list_filter($toksSql, t -> t IN ($stopList))) AS stop_hits
       |            FROM documents)""".stripMargin
  }

  private val t02Sql =
    s"""SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(stop_hits AS BIGINT) AS stop_hits, stop_ratio, punct_ratio,
       |  $qualitySql AS quality
       |FROM ($docSignalsSql)
       |WHERE n_tokens > 0
       |ORDER BY doc_id""".stripMargin

  /** Language-ID heuristic: argmax of per-language marker-word evidence
    * computed in one pass (no UDF). */
  private def t03(spark: SparkSession, dir: String): DataFrame = {
    val langs = Seq("en", "fr", "de", "es")
    val base = Corpus.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
    val withHits = langs.foldLeft(base) { (df, l) =>
      df.withColumn(s"hits_$l",
        size(filter(col("toks"), t => t.isInCollection(LangMarkers(l)))).cast("long"))
    }
    withHits
      .withColumn("pred_lang",
        when(col("hits_en") === 0 && col("hits_fr") === 0 &&
          col("hits_de") === 0 && col("hits_es") === 0, lit("und"))
          .when(col("hits_en") >= col("hits_fr") && col("hits_en") >= col("hits_de") &&
            col("hits_en") >= col("hits_es"), lit("en"))
          .when(col("hits_fr") >= col("hits_de") && col("hits_fr") >= col("hits_es"), lit("fr"))
          .when(col("hits_de") >= col("hits_es"), lit("de"))
          .otherwise(lit("es")))
      .select(col("doc_id"), col("hits_en"), col("hits_fr"), col("hits_de"),
        col("hits_es"), col("pred_lang"), col("lang"),
        (col("pred_lang") === col("lang")).as("is_match"))
      .orderBy(col("doc_id"))
  }

  private val t03Sql = {
    def hits(l: String) = {
      val list = LangMarkers(l).map(s => s"'$s'").mkString(", ")
      s"CAST(len(list_filter($toksSql, t -> t IN ($list))) AS BIGINT)"
    }
    s"""SELECT doc_id, hits_en, hits_fr, hits_de, hits_es,
       |  CASE WHEN hits_en = 0 AND hits_fr = 0 AND hits_de = 0 AND hits_es = 0 THEN 'und'
       |       WHEN hits_en >= hits_fr AND hits_en >= hits_de AND hits_en >= hits_es THEN 'en'
       |       WHEN hits_fr >= hits_de AND hits_fr >= hits_es THEN 'fr'
       |       WHEN hits_de >= hits_es THEN 'de'
       |       ELSE 'es' END AS pred_lang,
       |  lang,
       |  (CASE WHEN hits_en = 0 AND hits_fr = 0 AND hits_de = 0 AND hits_es = 0 THEN 'und'
       |       WHEN hits_en >= hits_fr AND hits_en >= hits_de AND hits_en >= hits_es THEN 'en'
       |       WHEN hits_fr >= hits_de AND hits_fr >= hits_es THEN 'fr'
       |       WHEN hits_de >= hits_es THEN 'de'
       |       ELSE 'es' END) = lang AS is_match
       |FROM (SELECT doc_id, lang,
       |        ${hits("en")} AS hits_en, ${hits("fr")} AS hits_fr,
       |        ${hits("de")} AS hits_de, ${hits("es")} AS hits_es
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Document fingerprinting via the codegen'd rolling-hash Catalyst
    * expression (graft_rolling_hash): raw-text and bag-of-words (sorted
    * token) 64-bit fingerprints. Oracle-checked since round 8: the
    * wrapping 64-bit fold IS expressible in DuckDB through HUGEINT
    * arithmetic — fold bytes (recovered from the hex of the UTF-8 blob)
    * as (h·31 + b) mod 2⁶⁴, then two's-complement back to a signed
    * BIGINT (the t08 SimHash flip's precedent). Engine-native xxhash64
    * is demonstrated inside other oracle-passing queries (t23/t26 key
    * their shuffles on it), so it no longer needs a column here. */
  private def t04(spark: SparkSession, dir: String): DataFrame = {
    GraftExpressions.register(spark)
    Corpus.documents(spark, dir)
      .select(
        col("doc_id"),
        expr("graft_rolling_hash(text)").as("fingerprint64"),
        expr("graft_rolling_hash(array_join(array_sort(filter(split(text, ' '), t -> t != '')), ' '))")
          .as("bow_fingerprint64"))
      .orderBy(col("doc_id"))
  }

  // The wrapping-64-bit rolling hash of a VARCHAR expression, in DuckDB:
  // UTF-8 bytes recovered from hex(encode(...)) nibble pairs, folded as
  // (h·31 + b) mod 2⁶⁴ in HUGEINT; [[signed64Sql]] two's-complements the
  // unsigned result back to the BIGINT the JVM fold produces.
  private def foldU64Sql(e: String): String = {
    val hx = s"hex(encode($e))"
    s"""list_reduce(
       |  list_prepend(CAST(0 AS HUGEINT),
       |    list_transform(range(1, octet_length(encode($e)) + 1),
       |      i -> CAST(16 * (strpos('0123456789ABCDEF', substring($hx, 2*i-1, 1)) - 1)
       |           + (strpos('0123456789ABCDEF', substring($hx, 2*i, 1)) - 1) AS HUGEINT))),
       |  (h, c) -> (h * 31 + c) % 18446744073709551616::HUGEINT)""".stripMargin
  }

  private def signed64Sql(c: String): String =
    s"""CAST(CASE WHEN $c >= 9223372036854775808::HUGEINT
       |     THEN $c - 18446744073709551616::HUGEINT ELSE $c END AS BIGINT)""".stripMargin

  private val t04Sql =
    s"""WITH b AS (
       |  SELECT doc_id, text,
       |    array_to_string(list_sort(list_filter(str_split(text, ' '), t -> t <> '')), ' ') AS bow
       |  FROM documents),
       |r AS (
       |  SELECT doc_id,
       |    ${foldU64Sql("text")} AS r1,
       |    ${foldU64Sql("bow")} AS r2
       |  FROM b)
       |SELECT doc_id,
       |  ${signed64Sql("r1")} AS fingerprint64,
       |  ${signed64Sql("r2")} AS bow_fingerprint64
       |FROM r
       |ORDER BY doc_id""".stripMargin

  /** Exact-dedup corpus summary (count/distinct/drop counts). */
  private def t05(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDedupStats(Corpus.documents(spark, dir))

  private val t05Sql =
    """SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_distinct_texts,
      |  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup_rows
      |FROM documents""".stripMargin

  /** Exact duplicate groups keyed by content hash. */
  private def t06(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDupGroups(Corpus.documents(spark, dir)).orderBy(col("text_hash"))

  private val t06Sql =
    """SELECT md5(text) AS text_hash, COUNT(*) AS n_copies,
      |  MIN(doc_id) AS keep_id, MAX(doc_id) AS max_id
      |FROM documents
      |GROUP BY 1 HAVING COUNT(*) > 1
      |ORDER BY text_hash""".stripMargin

  // DuckDB brute-force 3-gram shingle sets (mirror of Dedup.withShingles).
  private val shingleCte =
    s"""sh AS (
       |  SELECT doc_id, src, list_distinct([sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]
       |                                     for i in range(1, len(sp) - 1)]) AS s
       |  FROM (SELECT doc_id, source AS src, $toksSql AS sp FROM documents)
       |  WHERE len(sp) >= 3)""".stripMargin

  /** MinHash+LSH near-dup pairs, exact-Jaccard verified at ≥0.8. Oracle is
    * the brute-force O(n²) pairwise Jaccard — at the verify scale factor
    * they coincide (LSH detection probability ≥ 1-3e-5 for the pairs
    * present, all at j ≥ 0.9). */
  private def t07(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(Corpus.documents(spark, dir), shingleSize = 3, threshold = 0.8)

  private val t07Sql =
    s"""WITH $shingleCte
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS jaccard
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** SimHash near-dups (Hamming ≤ 3, band-blocked). Oracle: the full
    * signature pipeline — md5-derived 63-bit token hash, tf-weighted
    * sign-sums, bit packing, XOR popcount — replayed in DuckDB as a
    * brute-force O(n²) pair scan. The band blocking needs no mirror: by
    * pigeonhole (4 bands, ≤3 differing bits) every Hamming≤3 pair shares
    * a band, so the blocked and brute-force result sets coincide and the
    * hash gate checks the banding's recall too. */
  private def t08(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(Corpus.documents(spark, dir), maxHamming = 3)

  private val t08Sql = {
    val bits = 0 until Dedup.SimhashBits
    val bitSums = bits
      .map(b => s"SUM(CASE WHEN (th >> $b) & 1 = 1 THEN tf ELSE -tf END) AS b$b")
      .mkString(",\n    ")
    val packed = bits
      .map(b => s"(CASE WHEN b$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($toksSql) AS token FROM documents),
       |tf AS (
       |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf,
       |    (CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % 2147483648) * 4294967296
       |      + CAST('0x' || substr(md5(token), 9, 8) AS BIGINT) AS th
       |  FROM tok GROUP BY doc_id, token),
       |bits AS (
       |  SELECT doc_id, $bitSums
       |  FROM tf GROUP BY doc_id),
       |sh AS (SELECT doc_id, $packed AS simhash FROM bits)
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
       |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Blocked pairwise n-gram Jaccard (block = source) at ≥0.3 — the
    * "domain gives you a partition" dedup strategy. */
  private def t09(spark: SparkSession, dir: String): DataFrame =
    Dedup.blockedJaccardPairs(Corpus.documents(spark, dir), "source", shingleSize = 3, threshold = 0.3)

  private val t09Sql =
    s"""WITH $shingleCte
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS jaccard
       |FROM sh a JOIN sh b ON a.src = b.src AND a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Cross-engine-verifiable fingerprints: a modular rolling hash
    * (h·31 + codepoint mod 2³¹−1 per char) that both engines can compute
    * exactly — the oracle-checked companion to t04's 64-bit wrapping
    * hash (which no SQL engine can express). bow variant fingerprints
    * the sorted token bag, so token-order-permuted duplicates collide. */
  private def t10(spark: SparkSession, dir: String): DataFrame =
    Corpus.documents(spark, dir)
      .select(
        col("doc_id"),
        graft.operators.Sampling.portableFingerprint(col("text")).as("fp31"),
        graft.operators.Sampling.portableFingerprint(
          array_join(array_sort(filter(split(col("text"), " "), t => t =!= "")), " "))
          .as("bow_fp31"))
      .orderBy(col("doc_id"))

  private val t10Sql =
    s"""SELECT doc_id,
       |  ${foldSql("text")} AS fp31,
       |  ${foldSql("array_to_string(list_sort(list_filter(str_split(text, ' '), t -> t <> '')), ' ')")} AS bow_fp31
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** PII-style redaction over synthesized dirty text: the corpus text is
    * clean, so doc_id-derived tokens (fake email/phone/id) are appended
    * deterministically on BOTH sides and the scrubber must remove them —
    * verifying the patterns fire, not just that clean text passes. */
  private def t11(spark: SparkSession, dir: String): DataFrame = {
    val dirty = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com or 555-01"),
      col("doc_id"), lit(" ref "), (col("doc_id") + 100000).cast("string"))
    Corpus.documents(spark, dir)
      .withColumn("dirty", dirty)
      .withColumn("clean_text", TextFunctions.redact(col("dirty")))
      .select(
        col("doc_id"),
        col("clean_text"),
        (length(col("dirty")) - length(col("clean_text"))).cast("long").as("chars_removed"))
      .orderBy(col("doc_id"))
  }

  private val t11Sql = {
    val dirty = "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-01' || CAST(doc_id AS VARCHAR) || ' ref ' || CAST(doc_id + 100000 AS VARCHAR)"
    val red = TextFunctions.RedactionPatterns.foldLeft(s"($dirty)") {
      case (acc, (pat, tag)) => s"regexp_replace($acc, '$pat', '$tag', 'g')"
    }
    s"""SELECT doc_id, $red AS clean_text,
       |  CAST(length($dirty) - length($red) AS BIGINT) AS chars_removed
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** TF-IDF top terms per document (rank by tf·N/df). The idf is kept in
    * exact rational form (tf·N as integer, divided by integer df) instead
    * of log-scaled — log() is libm-dependent and can differ across
    * engines in the last ulp, while integer-ratio division is
    * bit-identical. Ranking and top-3 are unaffected (idf is monotone in
    * N/df). */
  private def t12(spark: SparkSession, dir: String): DataFrame = {
    val docs = Corpus.documents(spark, dir)
    // tf feeds BOTH the scored output and the df roll-up; Catalyst does
    // not CSE across branches, so without the persist the explode + tf
    // aggregation runs twice (measured ~2× at sf0.1). Released with
    // the session's query scope (same lifecycle as the Dedup caches).
    val terms = CacheRegistry.track(docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val df = terms.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    terms
      .join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  private val t12Sql =
    s"""WITH terms AS (
       |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY term),
       |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS tfidf
       |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
       |  FROM scored)
       |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df, tfidf
       |FROM ranked WHERE rank <= 3
       |ORDER BY doc_id, rank""".stripMargin

  /** Duplicate clustering: connected components over the minhash near-dup
    * pairs (t07's graph), each doc labeled with its component's min doc_id
    * — the pairs→clusters→keep-one step of a dedup pipeline. Oracle:
    * DuckDB recursive-CTE transitive closure over the same brute-force
    * pair set, so the hash gate checks the component labeling itself. */
  private def t13(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupClusters(
      Dedup.minhashNearDups(Corpus.documents(spark, dir), shingleSize = 3, threshold = 0.8))

  // Transitive closure over the brute-force minhash pair graph — shared
  // by the t13 clustering oracle and the t24 keep-one oracle.
  private val dupClosureCtes =
    s"""pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.8),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
       |clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  private val t13Sql =
    s"""WITH RECURSIVE $shingleCte,
       |$dupClosureCtes,
       |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM clusters GROUP BY cluster_id)
       |SELECT c.doc_id, c.cluster_id, s.cluster_size
       |FROM clusters c JOIN sizes s ON c.cluster_id = s.cluster_id
       |ORDER BY c.doc_id""".stripMargin

  /** Deterministic train/validation/test split by content-hash bucket
    * (80/10/10) — stable under repartitioning, corpus growth, and engine
    * choice, unlike `randomSplit`. Bucket = portable mod-2³¹ fingerprint
    * of the text, % 100 (same fold the t10 oracle verifies). */
  private def t14(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.hashSplit(Corpus.documents(spark, dir), "text")
      .select(col("doc_id"), col("bucket"), col("split"))
      .orderBy(col("doc_id"))

  private val t14Sql = {
    s"""SELECT doc_id, ${foldSql("text")} % 100 AS bucket,
       |  CASE WHEN ${foldSql("text")} % 100 < 80 THEN 'train'
       |       WHEN ${foldSql("text")} % 100 < 90 THEN 'validation'
       |       ELSE 'test' END AS split
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Incremental index-based dedup — the daily-batch production shape:
    * the even-id half of the corpus is signed into a persisted band+shingle
    * index ONCE, then the odd-id half probes it, so cost scales with the
    * batch rather than the corpus. Oracle: brute-force cross-set Jaccard
    * between the two halves (12 true pairs at sf0.01), so the hash gate
    * verifies candidate generation against the on-disk index AND the
    * exact verification arithmetic. */
  private def t15(spark: SparkSession, dir: String): DataFrame = {
    val docs = Corpus.documents(spark, dir)
    val idx = CacheRegistry.scratchDir(spark, "graft_dedup_idx_")
    Dedup.buildNearDupIndex(docs.filter(col("doc_id") % 2 === 0), idx)
    Dedup.nearDupsAgainstIndex(docs.filter(col("doc_id") % 2 === 1), idx)
  }

  private val t15Sql =
    s"""WITH $shingleCte
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS jaccard
       |FROM sh a JOIN sh b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
       |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Train/eval contamination report — the composition of t14's
    * deterministic split and t15's index probe: which eval-set documents
    * are near-dups of a training document? (A contaminated eval set
    * silently inflates benchmark scores; this is the audit a training
    * pipeline runs before publishing a split.) Exact dups can never cross
    * splits (identical text → identical bucket), so every row here is a
    * genuine NEAR-dup leak (9 at sf0.01). Oracle: brute-force cross-split
    * Jaccard with the split recomputed from the portable fold. */
  private def t16(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.operators.Sampling.hashSplit(Corpus.documents(spark, dir), "text")
    val idx = CacheRegistry.scratchDir(spark, "graft_contam_idx_")
    Dedup.buildNearDupIndex(docs.filter(col("split") === "train"), idx)
    Dedup.nearDupsAgainstIndex(docs.filter(col("split") =!= "train"), idx)
      .select(col("doc_a").as("train_doc"), col("doc_b").as("eval_doc"), col("jaccard"))
      .orderBy(col("train_doc"), col("eval_doc"))
  }

  private val t16Sql = {
    s"""WITH $shingleCte,
       |spl AS (SELECT doc_id, ${foldSql("text")} % 100 < 80 AS is_train FROM documents)
       |SELECT a.doc_id AS train_doc, b.doc_id AS eval_doc,
       |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS jaccard
       |FROM sh a JOIN spl sa ON a.doc_id = sa.doc_id AND sa.is_train
       |     JOIN sh b ON true
       |     JOIN spl sb ON b.doc_id = sb.doc_id AND NOT sb.is_train
       |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.8
       |ORDER BY train_doc, eval_doc""".stripMargin
  }

  /** Unigram-LM quality score (the CCNet shape, LM = the corpus itself):
    * each document scores as the mean log-probability of its tokens under
    * the corpus unigram distribution — rare-token-heavy (low-quality or
    * off-domain) documents score low. Determinism: counts and totals are
    * exact integers; the per-token `ln` is rounded through the
    * DECIMAL(30,6) detour before summing ([[Num.davg]]), so the mean is
    * accumulation-order- and libm-ulp-independent. Scale: one explode
    * (persisted — it feeds the LM counts, the total, and the scoring
    * join), a broadcast of the vocabulary-sized LM, and one partial+final
    * agg per doc; swap the broadcast for a shuffle join when the vocab
    * outgrows it. */
  private def t17(spark: SparkSession, dir: String): DataFrame = {
    val terms = CacheRegistry.track(Corpus.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term")))
    val lm = terms.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val n = terms.select(count(lit(1)).as("n_total"))
    terms
      .join(broadcast(lm), "term")
      .crossJoin(broadcast(n))
      .withColumn("logp", log(col("c").cast("double") / col("n_total")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), Num.davg(col("logp")).as("mean_logp"))
      .orderBy(col("doc_id"))
  }

  private val t17Sql =
    s"""WITH terms AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
       |lm AS (SELECT term, COUNT(*) AS c FROM terms GROUP BY term),
       |n AS (SELECT COUNT(*) AS n_total FROM terms)
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  ${Num.davgSql("ln(CAST(c AS DOUBLE) / n_total)")} AS mean_logp
       |FROM terms JOIN lm USING (term) CROSS JOIN n
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Gopher-style repetition filter: duplicate-token fraction and
    * top-bigram fraction per document, with a keep decision at thresholds
    * chosen to split this corpus (dup ≤ 0.65, top-bigram ≤ 0.06 — the
    * published Gopher rules use the same signals over lines/n-grams).
    * Entirely per-row (zero shuffle, scan speed): the bigram mode count
    * runs through the codegen'd O(n) `graft_mode_count` expression rather
    * than the O(n·distinct) HOF the oracle mirrors. */
  // Shared filter thresholds — interpolated into BOTH the Spark bodies
  // and the SQL mirrors of t18/t25, so a tuning change can't diverge the
  // repetition filter from the manifest.
  private val QualityMin = 0.40
  private val DupFracMax = 0.65

  private def t18(spark: SparkSession, dir: String): DataFrame = {
    GraftExpressions.register(spark)
    docSignals(Corpus.documents(spark, dir))
      .filter(col("n_tokens") >= 2)
      .withColumn("bg", TextFunctions.ngramsAll(col("toks"), 2))
      .withColumn("top_bigram_count", expr("graft_mode_count(bg)"))
      .withColumn("top_bigram_frac",
        col("top_bigram_count").cast("double") / (col("n_tokens") - 1))
      .select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_distinct").cast("long").as("n_distinct"),
        col("dup_token_frac"), col("top_bigram_count"), col("top_bigram_frac"),
        (col("dup_token_frac") <= DupFracMax && col("top_bigram_frac") <= 0.06).as("keep"))
      .orderBy(col("doc_id"))
  }

  private val t18Sql =
    s"""WITH f2 AS (
       |  SELECT doc_id, n_tokens, n_distinct, dup_token_frac,
       |    CAST(list_max(list_transform(list_distinct(bg),
       |      b -> len(list_filter(bg, x -> x = b)))) AS BIGINT) AS top_bigram_count
       |  FROM (SELECT *, [sp[i] || ' ' || sp[i+1] for i in range(1, len(sp))] AS bg
       |        FROM ($docSignalsSql) WHERE n_tokens >= 2))
       |SELECT doc_id, n_tokens, n_distinct, dup_token_frac, top_bigram_count,
       |  CAST(top_bigram_count AS DOUBLE) / (n_tokens - 1) AS top_bigram_frac,
       |  dup_token_frac <= $DupFracMax
       |    AND CAST(top_bigram_count AS DOUBLE) / (n_tokens - 1) <= 0.06 AS keep
       |FROM f2
       |ORDER BY doc_id""".stripMargin

  /** Domain-mixture resampling: deterministic stratified downsampling of
    * the English-heavy corpus (en keeps 40% by content-hash bucket, other
    * languages keep all) — the mixture-weighting step before tokenization.
    * Stable under re-runs and corpus growth, unlike `sample`. */
  private def t19(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .stratifiedKeep(Corpus.documents(spark, dir), "text", "lang", Map("en" -> 40))
      .select(col("doc_id"), col("lang"), col("bucket"), col("kept"))
      .orderBy(col("doc_id"))

  private val t19Sql = {
    s"""SELECT doc_id, lang, ${foldSql("text")} % 100 AS bucket,
       |  (${foldSql("text")} % 100) < (CASE WHEN lang = 'en' THEN 40 ELSE 100 END) AS kept
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Sequence packing for training: concat-and-chunk into 512-token
    * sequences across 8 content-hash shards (see
    * [[graft.operators.Packing]]) — each doc learns which training
    * sequences it lands in. The oracle replays the identical integer
    * layout in DuckDB, so the hash gate checks shard assignment, the
    * deterministic order, and the running sums. */
  private def t20(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packSequences(
      Corpus.documents(spark, dir)
        .withColumn("n_tokens", tokenCount(col("text")).cast("long")),
      keyCol = "text", idCol = "doc_id", tokenCol = "n_tokens",
      ctxLen = 512, nShards = 8)
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("cum_before"),
        col("seq_first"), col("seq_last"))
      .orderBy(col("doc_id"))

  private val t20Sql = {
    s"""WITH base AS (
       |  SELECT doc_id, ${foldSql("text")} AS fp, ${foldSql("text")} % 8 AS shard,
       |    CAST(len($toksSql) AS BIGINT) AS n_tokens
       |  FROM documents WHERE len($toksSql) > 0),
       |w AS (
       |  SELECT doc_id, shard, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY fp, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM base)
       |SELECT doc_id, shard, n_tokens, cum_before,
       |  cum_before // 512 AS seq_first,
       |  (cum_before + n_tokens - 1) // 512 AS seq_last
       |FROM w
       |ORDER BY doc_id""".stripMargin
  }

  /** Sequence-boundary metadata for the t20 pack layout
    * ([[graft.operators.Packing.sequenceBoundaries]]): per (shard,
    * sequence, doc) token spans — what a loader needs to reset position
    * ids / build block-diagonal attention masks at document boundaries
    * inside packed sequences. Pure arithmetic explode over t20's layout;
    * the oracle extends the t20 replay with the same range unnest. */
  private def t39(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.sequenceBoundaries(
      graft.operators.Packing.packSequences(
        Corpus.documents(spark, dir)
          .withColumn("n_tokens", tokenCount(col("text")).cast("long")),
        keyCol = "text", idCol = "doc_id", tokenCol = "n_tokens",
        ctxLen = 512, nShards = 8),
      ctxLen = 512)
      .orderBy(col("shard"), col("seq"), col("start_in_seq"), col("doc_id"))

  private val t39Sql =
    s"""WITH base AS (
       |  SELECT doc_id, ${foldSql("text")} AS fp, ${foldSql("text")} % 8 AS shard,
       |    CAST(len($toksSql) AS BIGINT) AS n_tokens
       |  FROM documents WHERE len($toksSql) > 0),
       |w AS (
       |  SELECT doc_id, shard, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY fp, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM base),
       |sp AS (SELECT doc_id, shard, n_tokens, cum_before,
       |    cum_before // 512 AS seq_first,
       |    (cum_before + n_tokens - 1) // 512 AS seq_last FROM w)
       |SELECT shard, s AS seq, doc_id,
       |  greatest(0, cum_before - s * 512) AS start_in_seq,
       |  least(512, cum_before + n_tokens - s * 512) AS end_in_seq
       |FROM (SELECT *, unnest(range(seq_first, seq_last + 1)) AS s FROM sp)
       |ORDER BY shard, seq, start_in_seq, doc_id""".stripMargin

  /** Winnowing fingerprints ([[graft.operators.Dedup.winnowFingerprints]];
    * Schleimer et al. SIGMOD'03, k=3, w=4): each doc's selected
    * (position, gram-hash) pairs — the position-aware local-similarity
    * representation (MOSS) complementing the global MinHash/SimHash
    * sketches. The oracle replays gram hashing, every window's
    * rightmost-min selection, and the distinct fold. */
  private def t40(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowFingerprints(Corpus.documents(spark, dir), "text", "doc_id")

  private val t40Sql = {
    val gramFold = foldSql("array_to_string(list_slice(sp, j, j + 2), ' ')")
    s"""WITH d AS (SELECT doc_id, $toksSql AS sp FROM documents),
       |g AS (SELECT doc_id, sp, len(sp) - 2 AS m FROM d),
       |h AS (SELECT doc_id, m,
       |        list_transform(range(1, m + 1), j -> $gramFold) AS hs
       |      FROM g WHERE m >= 1),
       |w AS (SELECT doc_id, hs, list_distinct(
       |        list_transform(range(1, greatest(1, m - 3) + 1), i ->
       |          list_reduce(list_prepend(i, range(i + 1, least(i + 3, m) + 1)),
       |            (acc, j) -> CASE WHEN hs[j] <= hs[acc] THEN j ELSE acc END))) AS sel
       |      FROM h)
       |SELECT doc_id, CAST(unnest(sel) AS BIGINT) AS pos, hs[unnest(sel)] AS fp FROM w
       |ORDER BY doc_id, pos""".stripMargin
  }

  /** Deterministic per-language K-sample
    * ([[graft.operators.Sampling.stratifiedSample]], k=5): the fixed
    * eval/debug carve-out per domain, selected by smallest content
    * fingerprint through the bounded k-heap aggregate — map-side partial,
    * k-element buffers on the shuffle, no per-stratum sort (the PlanSpec
    * pattern v01 established, reused for sampling). Oracle replays the
    * selection with a per-language ranking window. */
  private def t41(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(Corpus.documents(spark, dir),
      keyCol = "text", stratumCol = "lang", idCol = "doc_id", k = 5)

  private val t41Sql =
    s"""SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, fp FROM (
       |  SELECT lang, doc_id, f AS fp,
       |    row_number() OVER (PARTITION BY lang ORDER BY f, doc_id) AS rank
       |  FROM (SELECT lang, doc_id, ${foldSql("text")} AS f FROM documents))
       |WHERE rank <= 5
       |ORDER BY lang, rank""".stripMargin

  /** Synthetic `'\n'`/punctuation-bearing corpus for the C4 cleaning
    * family (the flat fixture text has neither): 6-word chunks become
    * lines, each drawing deterministic terminal punctuation from the
    * portable fold of its content (fold%10 ∈ 0–5 → `.`, 6 → `!`, 7 →
    * `?`, 8–9 → none) — so line structure replays cross-engine, ~20% of
    * lines fail the punctuation rule, short tail chunks fail the
    * word-count rule, and repeated 6-grams exercise the corpus-wide
    * line-dedup (261 duplicate occurrences at sf0.01). */
  private def c4SynthPages(spark: SparkSession, dir: String): DataFrame = {
    val sp = filter(split(col("text"), " "), t => t =!= lit(""))
    val nChunks = ceil(size(sp).cast("double") / lit(6.0)).cast("int")
    val lineOf = (i: Column) => {
      val base = array_join(slice(sp, i * lit(6) + 1, lit(6)), " ")
      val e = pmod(graft.operators.Sampling.portableFingerprint(base), lit(10))
      concat(base,
        when(e <= 5, lit(".")).when(e === 6, lit("!"))
          .when(e === 7, lit("?")).otherwise(lit("")))
    }
    // zero-token docs are excluded, not synthesized as an empty page:
    // split("", "\n") yields [""], so an empty page would emit one
    // empty-line verdict row on the Spark side while the oracle's
    // range(0, 0) CTE emits none — a latent gate divergence (the t35/
    // t44/t45 oracles make the same exclusion)
    Corpus.documents(spark, dir)
      .filter(size(sp) > 0)
      .select(col("doc_id"),
        array_join(transform(sequence(lit(0), nChunks - 1), lineOf), "\n").as("text"))
  }

  // Oracle mirror of the synthesis: one CTE chain shared by t42/t43.
  private val c4SynthSql = {
    val punct = s"CASE WHEN ${foldSql("base")} % 10 <= 5 THEN '.' " +
      s"WHEN ${foldSql("base")} % 10 = 6 THEN '!' " +
      s"WHEN ${foldSql("base")} % 10 = 7 THEN '?' ELSE '' END"
    s"""toks AS (SELECT doc_id, $toksSql AS sp FROM documents),
       |raw AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS line_idx,
       |    array_to_string(sp[i*6+1 : i*6+6], ' ') AS base,
       |    CAST(len(sp[i*6+1 : i*6+6]) AS BIGINT) AS n_words
       |  FROM toks,
       |    LATERAL (SELECT unnest(range(0, CAST(ceil(len(sp)/6.0) AS BIGINT))) AS i) r),
       |lines AS (
       |  SELECT doc_id, line_idx, n_words, base || $punct AS line,
       |    ${foldSql("base")} % 10 <= 7 AS ends_terminal
       |  FROM raw),
       |flagged AS (
       |  SELECT *, n_words >= 5 AS enough_words,
       |    (ends_terminal AND n_words >= 5) AS line_pass
       |  FROM lines),
       |ranked AS (
       |  SELECT *, CASE WHEN line_pass THEN row_number()
       |      OVER (PARTITION BY line_pass, line ORDER BY doc_id, line_idx) = 1
       |    ELSE FALSE END AS is_first
       |  FROM flagged),
       |kept AS (SELECT *, line_pass AND is_first AS line_kept FROM ranked),
       |pages AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN line_kept THEN 1 ELSE 0 END) >= 3 AS page_kept
       |  FROM kept GROUP BY doc_id)""".stripMargin
  }

  /** C4-style line-level cleaning verdicts
    * ([[graft.operators.Cleaning.lineVerdicts]]; Raffel et al. JMLR'20
    * §2.2): terminal-punctuation line filter, ≥5-word line filter,
    * corpus-wide line-dedup keeping first occurrence, ≥3-kept-line page
    * filter — each rule's flag oracle-gated per line. The dedup rank is
    * the one shuffle, keyed on the line digest. */
  private def t42(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Cleaning.lineVerdicts(c4SynthPages(spark, dir),
      minWords = 5, minKeptLines = 3)
      .withColumn("line_idx", col("line_idx").cast("long"))

  private val t42Sql =
    s"""WITH $c4SynthSql
       |SELECT k.doc_id, k.line_idx, k.line, k.n_words, k.ends_terminal,
       |  k.enough_words, k.line_pass, k.line_kept, p.page_kept
       |FROM kept k JOIN pages p ON k.doc_id = p.doc_id
       |ORDER BY k.doc_id, k.line_idx""".stripMargin

  /** The cleaned corpus itself ([[graft.operators.Cleaning.cleanPages]]):
    * kept pages reassembled from their kept lines in original order —
    * the byte-exact output a downstream tokenizer consumes, gated
    * end-to-end. */
  private def t43(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Cleaning.cleanPages(c4SynthPages(spark, dir),
      minWords = 5, minKeptLines = 3)

  private val t43Sql =
    s"""WITH $c4SynthSql
       |SELECT k.doc_id, COUNT(*) AS n_kept_lines,
       |  string_agg(k.line, chr(10) ORDER BY k.line_idx) AS clean_text
       |FROM kept k JOIN pages p ON k.doc_id = p.doc_id
       |WHERE k.line_kept AND p.page_kept
       |GROUP BY k.doc_id
       |ORDER BY k.doc_id""".stripMargin

  /** CCNet perplexity bucketing
    * ([[graft.operators.Quality.perplexityBuckets]]; Wenzek et al., LREC
    * 2020): per-language target-domain LM (uni+bigram hashed buckets,
    * target = the curated src0–src2 slice standing in for CCNet's
    * Wikipedia), per-doc `logpp` through the decimal detour, and
    * head/middle/tail terciles per language with thresholds from a
    * 64-doc fingerprint sample (the bounded k-heap — CCNet itself
    * thresholds on a sample). The oracle replays the hashed LM, every
    * logpp, the sample selection, both thresholds, and every bucket
    * verdict. (Like t36, the operator is null-safe on the stratum —
    * a NULL language still receives its thresholds — while the oracle
    * mirrors the fixture, whose `lang` is never null.) */
  private def t44(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.perplexityBuckets(Corpus.documents(spark, dir),
      "text", "doc_id", "lang", col("source").isin("src0", "src1", "src2"),
      buckets = 4096, sampleK = 64, seed = "ppb-r10")

  private val t44Sql = {
    val b = 4096
    def fp = mixSql("'ppb-r10:' || CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (SELECT doc_id, lang, source IN ('src0','src1','src2') AS tgt,
       |    $toksSql AS sp FROM documents WHERE len($toksSql) > 0),
       |g AS (SELECT doc_id, lang, tgt,
       |        unnest(sp || list_transform(range(1, len(sp)), i -> sp[i] || ' ' || sp[i+1])) AS gram
       |      FROM d),
       |gb AS (SELECT doc_id, lang, tgt, ${foldSql("gram")} % $b AS b FROM g),
       |tc AS (SELECT lang, b, count(*) AS ct FROM gb WHERE tgt GROUP BY lang, b),
       |nt AS (SELECT lang, count(*) AS n FROM gb WHERE tgt GROUP BY lang),
       |sc AS (SELECT gb.doc_id, gb.lang, count(*) AS n_grams,
       |        (0.0 - ${Num.davgSql(s"ln((COALESCE(tc.ct, 0) + 1.0) / (COALESCE(nt.n, 0) + $b))")}) AS logpp
       |       FROM gb LEFT JOIN tc ON gb.lang = tc.lang AND gb.b = tc.b
       |         LEFT JOIN nt ON gb.lang = nt.lang
       |       GROUP BY gb.doc_id, gb.lang),
       |smp AS (SELECT lang, logpp, row_number() OVER (PARTITION BY lang
       |          ORDER BY $fp, doc_id) AS rn
       |        FROM sc),
       |th AS (SELECT lang,
       |         lst[CAST(ceil(len(lst) / 3.0) AS INT)] AS t1,
       |         lst[CAST(ceil(len(lst) * 2 / 3.0) AS INT)] AS t2
       |       FROM (SELECT lang, list_sort(list(logpp)) AS lst
       |             FROM smp WHERE rn <= 64 GROUP BY lang)),
       |fin AS (SELECT sc.doc_id, sc.lang, sc.n_grams, sc.logpp,
       |          CASE WHEN sc.logpp <= th.t1 THEN 'head'
       |               WHEN sc.logpp <= th.t2 THEN 'middle'
       |               ELSE 'tail' END AS bucket
       |        FROM sc JOIN th ON sc.lang = th.lang)
       |SELECT doc_id, lang, n_grams, logpp, bucket FROM fin
       |ORDER BY doc_id""".stripMargin
  }

  /** GPT-3 quality-classifier Pareto selection
    * ([[graft.operators.Quality.classifierPareto]]; Brown et al. 2020,
    * Appendix A): naive-Bayes posterior over the hashed uni+bigram
    * buckets with the curated slice (here: the English corpus) as the
    * positive class, `score = σ(z)`, and the published
    * `pareto_x > 1 − score` acceptance (α = 9) — the classifier-based
    * selection rule DSIR (t35) was published against, on the same
    * feature family. At sf0.01 it keeps ~9% of the corpus: the
    * classifier's favorites outright plus a Pareto tail of low scorers.
    * The oracle replays both LMs, the prior, every posterior, every
    * Pareto draw, and every verdict. */
  private def t45(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.classifierPareto(Corpus.documents(spark, dir),
      "text", "doc_id", col("lang") === "en", buckets = 4096, alpha = 9.0,
      seed = "qc-r10")

  private val t45Sql = {
    val b = 4096
    def u = s"((${mixSql("'qc-r10:' || CAST(doc_id AS VARCHAR)")}) + 1) / 2147483647.0"
    s"""WITH d AS (SELECT doc_id, lang = 'en' AS pos, $toksSql AS sp
       |      FROM documents WHERE len($toksSql) > 0),
       |g AS (SELECT doc_id, pos,
       |        unnest(sp || list_transform(range(1, len(sp)), i -> sp[i] || ' ' || sp[i+1])) AS gram
       |      FROM d),
       |gb AS (SELECT doc_id, pos, ${foldSql("gram")} % $b AS b FROM g),
       |cp AS (SELECT b, count(*) AS c FROM gb WHERE pos GROUP BY b),
       |cn AS (SELECT b, count(*) AS c FROM gb WHERE NOT pos GROUP BY b),
       |np AS (SELECT count(*) AS n FROM gb WHERE pos),
       |nn AS (SELECT count(*) AS n FROM gb WHERE NOT pos),
       |pr AS (SELECT ln(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
       |         / sum(CASE WHEN pos THEN 0 ELSE 1 END)) AS prior FROM d),
       |lo AS (SELECT gb.doc_id,
       |         ln((COALESCE(cp.c, 0) + 1.0) / (np.n + $b))
       |           - ln((COALESCE(cn.c, 0) + 1.0) / (nn.n + $b)) AS lodds
       |       FROM gb LEFT JOIN cp ON gb.b = cp.b LEFT JOIN cn ON gb.b = cn.b, np, nn),
       |z AS (SELECT doc_id, count(*) AS n_grams,
       |        pr.prior + ${Num.dsumSql("lodds")} AS log_odds
       |      FROM lo, pr GROUP BY doc_id, pr.prior),
       |k AS (SELECT doc_id, n_grams, log_odds,
       |        1.0 / (1.0 + exp(-log_odds)) AS score,
       |        pow($u, -1.0 / 9.0) - 1.0 AS pareto_x
       |      FROM z)
       |SELECT doc_id, n_grams, log_odds, score, pareto_x,
       |  pareto_x > 1.0 - score AS kept
       |FROM k ORDER BY doc_id""".stripMargin
  }

  /** UniMax language sampling ([[graft.operators.Sampling.unimaxKeep]];
    * Chung et al. ICLR 2023): a 40k-token budget split across languages
    * with a 2-epoch cap, via the water-filling closed form of the
    * paper's greedy — at sf0.01 the four low-resource languages cap at
    * exactly 2 epochs and English shares the leftover (rate ≈ 0.78).
    * The capped test is pure integer arithmetic; per-doc copy counts are
    * deterministic stochastic rounding on the content-hash uniform. The
    * oracle replays the token totals, the capacity-ordered water-fill,
    * every rate, and every copy count. */
  private def t47(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.unimaxKeep(
      Corpus.documents(spark, dir)
        .withColumn("n_tokens", tokenCount(col("text")).cast("long"))
        .filter(col("n_tokens") > 0),
      idCol = "doc_id", stratumCol = "lang", tokenCol = "n_tokens",
      budget = 40000L, maxEpochs = 2, seed = "umx-r10")
      .select(col("doc_id"), col("lang"), col("capped"), col("rate"),
        col("n_copies"))
      .orderBy(col("doc_id"))

  private val t47Sql = {
    val u = s"(CAST(${mixSql("'umx-r10:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE) / 2147483647.0)"
    s"""WITH d AS (SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS tok
       |      FROM documents WHERE len($toksSql) > 0),
       |c AS (SELECT lang, sum(tok) AS tk, sum(tok) * 2 AS cap FROM d GROUP BY lang),
       |w AS (SELECT lang, tk, cap,
       |        CAST(row_number() OVER (ORDER BY cap, lang) AS BIGINT) AS idx,
       |        COALESCE(sum(cap) OVER (ORDER BY cap, lang
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre,
       |        count(*) OVER () AS L
       |      FROM c),
       |f AS (SELECT *, cap * (L - idx + 1) <= 40000 - pre AS capped FROM w),
       |g AS (SELECT sum(CASE WHEN capped THEN cap ELSE 0 END) AS capsum,
       |             sum(CASE WHEN capped THEN 0 ELSE 1 END) AS nunc FROM f),
       |r AS (SELECT lang, capped,
       |        CASE WHEN capped THEN CAST(cap AS DOUBLE)
       |             ELSE CAST(40000 - capsum AS DOUBLE) / nunc END
       |          / CAST(tk AS DOUBLE) AS rate
       |      FROM f, g)
       |SELECT d.doc_id, d.lang, r.capped, r.rate,
       |  CAST(floor(r.rate) AS BIGINT) +
       |    CASE WHEN $u < r.rate - floor(r.rate) THEN 1 ELSE 0 END AS n_copies
       |FROM d JOIN r USING (lang) ORDER BY d.doc_id""".stripMargin
  }

  /** Edit-distance-verified near-duplicates
    * ([[graft.operators.Dedup.editDistanceNearDups]]): rare-8-gram
    * blocking (document frequency 2–8 — fanout bounded at df² per gram,
    * never n²) then exact Levenshtein verification at edit similarity
    * ≥ 0.55 — the character-level verifier complementing Jaccard (t07/
    * t09) and Hamming (t08). The oracle replays the blocking on raw
    * grams (the Spark side blocks on xxhash64 digests — identical
    * candidates absent a 64-bit collision, the t26 discipline) and
    * re-verifies every pair with DuckDB's own `levenshtein`, so the
    * gate cross-checks two independent DP implementations. */
  private def t48(spark: SparkSession, dir: String): DataFrame =
    Dedup.editDistanceNearDups(Corpus.documents(spark, dir),
      gramSize = 8, maxDf = 8, minSim = 0.55)

  private val t48Sql =
    s"""WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len,
       |             $toksSql AS sp FROM documents),
       |g AS (SELECT DISTINCT doc_id, array_to_string(sp[i : i + 7], ' ') AS gram
       |      FROM d, LATERAL (SELECT unnest(range(1, len(sp) - 8 + 2)) AS i) r
       |      WHERE len(sp) >= 8),
       |rare AS (SELECT gram FROM g GROUP BY gram
       |         HAVING count(*) >= 2 AND count(*) <= 8),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM g x JOIN rare u ON x.gram = u.gram
       |           JOIN g y ON y.gram = x.gram AND x.doc_id < y.doc_id),
       |v AS (SELECT c.doc_a, c.doc_b,
       |        CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
       |        greatest(a.len, b.len) AS ml
       |      FROM cand c JOIN d a ON c.doc_a = a.doc_id
       |        JOIN d b ON c.doc_b = b.doc_id)
       |SELECT doc_a, doc_b, lev,
       |  1.0 - lev / CAST(ml AS DOUBLE) AS edit_sim
       |FROM v WHERE 1.0 - lev / CAST(ml AS DOUBLE) >= 0.55
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Substring-level exact dedup
    * ([[graft.operators.Dedup.exciseRepeatedSpans]]; Lee et al. ACL'22
    * ExactSubstr): every 8-token span occurring more than once in the
    * corpus is excised from every document carrying it; kept tokens
    * reassemble in order. The oracle replays the occurrence counts (raw
    * grams vs the engine's xxhash64 keys), the covered-position union,
    * the gaps-and-islands span count, and the byte-exact cleaned text. */
  private def t49(spark: SparkSession, dir: String): DataFrame =
    Dedup.exciseRepeatedSpans(Corpus.documents(spark, dir), spanTokens = 8)

  private val t49Sql =
    s"""WITH d AS (SELECT doc_id, $toksSql AS sp FROM documents
       |           WHERE len($toksSql) > 0),
       |g AS (SELECT doc_id, CAST(i AS BIGINT) AS start,
       |        array_to_string(sp[i + 1 : i + 8], ' ') AS gram
       |      FROM d, LATERAL (SELECT unnest(range(0, len(sp) - 8 + 1)) AS i) r
       |      WHERE len(sp) >= 8),
       |occ AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
       |ds AS (SELECT g.doc_id, g.start FROM g JOIN occ ON g.gram = occ.gram),
       |cov AS (SELECT DISTINCT doc_id, start + CAST(k AS BIGINT) AS pos
       |        FROM ds, LATERAL (SELECT unnest(range(0, 8)) AS k) kk),
       |isl AS (SELECT doc_id, CAST(sum(st) AS BIGINT) AS n_spans_removed FROM (
       |          SELECT doc_id, CASE WHEN lag(pos) OVER w IS NULL
       |              OR pos > lag(pos) OVER w + 1 THEN 1 ELSE 0 END AS st
       |          FROM cov WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
       |        GROUP BY doc_id),
       |dsn AS (SELECT doc_id, count(*) AS n_dup_starts FROM ds GROUP BY doc_id),
       |toks AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, sp[i + 1] AS tok
       |         FROM d, LATERAL (SELECT unnest(range(0, len(sp))) AS i) r),
       |st AS (SELECT t.doc_id, count(*) AS n_tokens,
       |         CAST(sum(CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_removed_tokens,
       |         COALESCE(string_agg(CASE WHEN c.pos IS NULL THEN t.tok END,
       |           ' ' ORDER BY t.pos), '') AS clean_text
       |       FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
       |       GROUP BY t.doc_id)
       |SELECT st.doc_id, st.n_tokens,
       |  COALESCE(dsn.n_dup_starts, 0) AS n_dup_starts,
       |  COALESCE(isl.n_spans_removed, 0) AS n_spans_removed,
       |  st.n_removed_tokens, st.clean_text
       |FROM st LEFT JOIN dsn ON st.doc_id = dsn.doc_id
       |  LEFT JOIN isl ON st.doc_id = isl.doc_id
       |ORDER BY st.doc_id""".stripMargin

  /** Unigram-LM tokenizer learning
    * ([[graft.operators.Unigram.learn]]; Kudo ACL'18, the SentencePiece
    * unigram model): seed vocabulary from weighted substring counts,
    * then Viterbi-EM rounds — re-segment the distinct-word table under
    * the current pieces, recount, reselect. ORACLE-GATED since r17
    * (VERDICT r16 #3, upgraded past the transitive-literal ask): the
    * loop is iterative but every iteration runs on the
    * VOCABULARY-SIZED word table with deterministic selection, so
    * DuckDB replays the whole Viterbi-EM — the seed selection, then
    * per round a full [[viterbiLatticeSql]] lattice under that round's
    * logp table, the weighted piece recount, and the top-40+singles
    * reselect with the count floor — and the final vocabulary is
    * hash-gated rank-for-rank, logp-for-logp at every SF. UnigramSpec
    * still pins the distributed learner to a single-node reference of
    * the published algorithm. */
  private def t50(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Unigram.learn(Corpus.documents(spark, dir),
      vocabSize = 40, maxPieceLen = 3, rounds = 3)
      .zipWithIndex
      .map { case (p, i) => (i + 1L, p.piece, p.cnt, p.logp) }
      .toDF("rank", "piece", "cnt", "logp")
      .orderBy(col("rank"))
  }

  /** Viterbi unigram encode under a deterministically selected piece
    * table ([[graft.operators.Unigram.selectPieces]] +
    * [[graft.operators.Unigram.encodeWords]]): the decode half of the
    * unigram tokenizer, oracle-gated end-to-end — DuckDB replays the
    * substring counts, the top-40+singles selection, every `ln(cnt/
    * total)`, the full Viterbi lattice (a recursive CTE carrying the dp
    * and backpointer arrays, candidate folds replaying the smallest-j
    * tie-break), and the backtracked segmentation of every distinct
    * word. The analogue of t33 for the second tokenizer family: learning
    * is rows-only, deterministic decode is hash-gated. */
  private def t51(spark: SparkSession, dir: String): DataFrame = {
    val docs = Corpus.documents(spark, dir)
    graft.operators.Unigram.encodeWords(docs,
      graft.operators.Unigram.selectPieces(docs, vocabSize = 40, maxPieceLen = 3))
  }

  // ---- Tokenizer-learner oracle machinery (r17, VERDICT r16 #3
  // upgraded): all three learners' iterative loops ARE replayable in
  // DuckDB because each iteration runs over the VOCABULARY-SIZED
  // distinct-word table with a deterministic argmax/selection — the
  // oracle chains one CTE block per iteration. Generation CTEs are
  // MATERIALIZED: DuckDB inlines plain CTEs, and generation N is read
  // by both generation N+1's rewrite and its own pair/argmax scan, so
  // inlining would expand the scan tree exponentially (the un-hinted
  // form exhausts file handles before it exhausts patience).

  /** The distinct-word table CTE shared by the unigram/WordPiece
    * oracles: (word, wfreq) under the wsTokens split. */
  private val wordTableCteSql: String =
    s"""w AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS wfreq FROM (
       |        SELECT unnest($wsToksSql) AS word FROM documents) GROUP BY word)""".stripMargin

  /** Weighted substring counts (length ≤ 3) over the word table — the
    * unigram seed-selection quantity. */
  private val substringCountsCteSql: String =
    """sub AS MATERIALIZED (SELECT substr(w.word, CAST(p AS INT), CAST(l AS INT)) AS piece,
      |          CAST(sum(w.wfreq) AS BIGINT) AS cnt
      |        FROM w,
      |          LATERAL (SELECT unnest(range(1, length(w.word) + 1)) AS p) pp,
      |          LATERAL (SELECT unnest(range(1, least(3, length(w.word) - p + 1) + 1)) AS l) ll
      |        GROUP BY piece)""".stripMargin

  /** Parameterized DuckDB Viterbi lattice over the word table `w`:
    * candidate pieces of length ≤ 3 scored by the logp table `lpCte`
    * (piece, lp) with the unknown-single-char −100.0 floor, dp +
    * backpointer recursion carrying the smallest-j tie-break (the fold
    * keeps the accumulator on score ties, and candidates arrive j
    * ascending), and backtrack to per-word piece lists in
    * `done_<sfx>`. ONE definition of the lattice shared by the t51
    * encode oracle and every EM round of the t50 learn oracle — a fix
    * to the tie-break or the floor applies to both. */
  private def viterbiLatticeSql(sfx: String, lpCte: String): String =
    s"""cand0_$sfx AS MATERIALIZED (SELECT w.word, CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       |            substr(w.word, CAST(j + 1 AS INT), CAST(i - j AS INT)) AS piece
       |          FROM w,
       |            LATERAL (SELECT unnest(range(1, length(w.word) + 1)) AS i) ii,
       |            LATERAL (SELECT unnest(range(greatest(0, i - 3), i)) AS j) jj),
       |cand1_$sfx AS (SELECT c.word, c.i, c.j,
       |            COALESCE($lpCte.lp, CASE WHEN c.i - c.j = 1 THEN -100.0 END) AS clp
       |          FROM cand0_$sfx c LEFT JOIN $lpCte ON $lpCte.piece = c.piece),
       |cand_$sfx AS MATERIALIZED (SELECT word, i, list(struct_pack(j := j, lp := clp) ORDER BY j) AS jl
       |         FROM cand1_$sfx WHERE clp IS NOT NULL GROUP BY word, i),
       |vit_$sfx AS (
       |  SELECT word, 0 AS i, [CAST(0.0 AS DOUBLE)] AS dp, [CAST(-1 AS INT)] AS bp FROM w
       |  UNION ALL
       |  SELECT v.word, v.i + 1, v.dp || [b.best.s], v.bp || [b.best.j]
       |  FROM vit_$sfx v JOIN cand_$sfx c ON c.word = v.word AND c.i = v.i + 1,
       |    LATERAL (SELECT list_reduce(
       |        list_transform(c.jl, x -> struct_pack(s := v.dp[x.j + 1] + x.lp, j := x.j)),
       |        (a, x) -> CASE WHEN x.s > a.s THEN x ELSE a END) AS best) b),
       |fin_$sfx AS (SELECT word, bp FROM vit_$sfx WHERE i = length(word)),
       |bt_$sfx AS (
       |  SELECT word, CAST(length(word) AS INT) AS pos, CAST([] AS VARCHAR[]) AS pieces, bp FROM fin_$sfx
       |  UNION ALL
       |  SELECT word, bp[pos + 1],
       |    list_prepend(substr(word, CAST(bp[pos + 1] + 1 AS INT), CAST(pos - bp[pos + 1] AS INT)), pieces), bp
       |  FROM bt_$sfx WHERE pos > 0),
       |done_$sfx AS MATERIALIZED (SELECT word, pieces FROM bt_$sfx WHERE pos = 0)""".stripMargin

  private val t51Sql =
    s"""WITH RECURSIVE
       |$wordTableCteSql,
       |$substringCountsCteSql,
       |sel AS (SELECT piece, cnt FROM (
       |          SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rk FROM sub)
       |        WHERE rk <= 40 OR length(piece) = 1),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM sel),
       |lp AS MATERIALIZED (SELECT piece, ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE)) AS lp
       |       FROM sel, tot),
       |${viterbiLatticeSql("e", "lp")}
       |SELECT w.word, w.wfreq, CAST(len(d.pieces) AS BIGINT) AS n_pieces,
       |  array_to_string(d.pieces, '|') AS encoded
       |FROM w JOIN done_e d ON w.word = d.word
       |ORDER BY w.word""".stripMargin

  /** The t50 learn-replay oracle: seed selection (top-160 substrings +
    * all singles, `Unigram.learn`'s `seedMultiplier × vocabSize`), then
    * per EM round a Viterbi lattice under that round's logp table, a
    * weighted piece recount over the segmentations, and the
    * top-40 + singles-floored-at-1 reselect (max-dedupe replays
    * `(top ++ keptSingles).distinct.groupBy(piece).max`); final
    * vocabulary ranked (count desc, piece). */
  private def unigramLearnSql(rounds: Int): String = {
    def reselect(r: Int, cnt: String): String =
      s"""sel$r AS MATERIALIZED (SELECT piece, CAST(max(c) AS BIGINT) AS cnt FROM (
         |    SELECT piece, c FROM (
         |      SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece) AS rk FROM $cnt)
         |    WHERE rk <= 40
         |    UNION ALL
         |    SELECT s.piece, greatest(COALESCE($cnt.c, 0), 1) AS c
         |    FROM sing s LEFT JOIN $cnt ON s.piece = $cnt.piece)
         |  GROUP BY piece),
         |tot$r AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM sel$r),
         |lp$r AS MATERIALIZED (SELECT piece, cnt, ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE)) AS lp
         |  FROM sel$r, tot$r)""".stripMargin
    val seed =
      s"""$wordTableCteSql,
         |$substringCountsCteSql,
         |sing AS MATERIALIZED (SELECT DISTINCT piece FROM sub WHERE length(piece) = 1),
         |sel0 AS MATERIALIZED (SELECT piece, cnt FROM (
         |    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rk FROM sub)
         |  WHERE rk <= 160 OR length(piece) = 1),
         |tot0 AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM sel0),
         |lp0 AS MATERIALIZED (SELECT piece, cnt, ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE)) AS lp
         |  FROM sel0, tot0)""".stripMargin
    val roundCtes = (0 until rounds).map { r =>
      s"""${viterbiLatticeSql(s"r$r", s"lp$r")},
         |cntr${r + 1} AS MATERIALIZED (SELECT piece, CAST(sum(w.wfreq) AS BIGINT) AS c
         |  FROM done_r$r d, LATERAL (SELECT unnest(d.pieces) AS piece) pc
         |  JOIN w ON w.word = d.word GROUP BY piece),
         |${reselect(r + 1, s"cntr${r + 1}")}""".stripMargin
    }
    s"""WITH RECURSIVE ${(seed +: roundCtes).mkString(",\n")}
       |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS BIGINT) AS rank,
       |  piece, cnt, lp AS logp
       |FROM lp$rounds ORDER BY rank""".stripMargin
  }

  private val t50Sql = unigramLearnSql(rounds = 3)

  /** Exact heavy hitters via a Misra-Gries candidate sketch
    * ([[graft.operators.Frequency.heavyHitters]]; Agarwal et al. PODS'12
    * mergeable summaries): tokens above share 1/31 (k=30 — fewer
    * counters than the 31-word vocabulary, so the summary genuinely
    * overflows and reduces; non-empty at sf0.01 AND sf0.1). The sketch proposes ≤ k candidates under a
    * containment guarantee; an exact pass verifies with the integer rule
    * `freq·(k+1) > n` — so the gated output equals the plain GROUP BY
    * answer the oracle replays, while the engine never materializes the
    * full frequency table. */
  private def t52(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Frequency.heavyHitters(Corpus.documents(spark, dir), k = 30)

  private val t52Sql =
    s"""WITH w AS (SELECT unnest($toksSql) AS token FROM documents),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM w),
       |c AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM w GROUP BY token)
       |SELECT token, freq, CAST(freq AS DOUBLE) / CAST(n.n AS DOUBLE) AS share
       |FROM c, n WHERE freq * 31 > n.n
       |ORDER BY freq DESC, token""".stripMargin

  /** Corpus datasheet: the per-language rollup a training-data pipeline
    * publishes with a dataset release — doc/token volumes, mean quality
    * (decimal-detour mean of the bit-identical per-row score), and exact
    * duplicate rates. One scan + one partial+final agg on `lang`. */
  private def t21(spark: SparkSession, dir: String): DataFrame =
    docSignals(Corpus.documents(spark, dir))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens_total"),
        Num.davg(col("quality")).as("mean_quality"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_exact_dup_rows"))
      .orderBy(col("lang"))

  private val t21Sql =
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total,
       |  ${Num.davgSql(qualitySql)} AS mean_quality,
       |  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_exact_dup_rows
       |FROM ($docSignalsSql)
       |WHERE n_tokens > 0
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  /** Overlapping document chunking (32-token chunks, 8-token overlap —
    * the RAG/sliding-window training shape; see
    * [[graft.operators.Packing.chunkTokens]]). The oracle rebuilds the
    * identical chunk boundaries and text with DuckDB list slicing, so the
    * hash gate checks the start/stride arithmetic AND the chunk content. */
  private def t22(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.chunkTokens(
      Corpus.documents(spark, dir)
        .withColumn("toks", tokens(col("text")))
        .withColumn("n_tokens", size(col("toks")).cast("long")),
      "toks", ctxLen = 32, overlap = 8)
      .select(col("doc_id"), col("n_tokens"), col("chunk_idx").cast("long"),
        col("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val t22Sql =
    s"""WITH base AS (
       |  SELECT doc_id, $toksSql AS sp FROM documents WHERE len($toksSql) > 0),
       |ch AS (
       |  SELECT doc_id, CAST(len(sp) AS BIGINT) AS n_tokens,
       |    [array_to_string(sp[s : s + 31], ' ')
       |     for s in range(1, (CASE WHEN len(sp) > 32 THEN len(sp) - 32 + 24 ELSE 1 END) + 1, 24)] AS chunks
       |  FROM base)
       |SELECT doc_id, n_tokens,
       |  CAST(generate_subscripts(chunks, 1) - 1 AS BIGINT) AS chunk_idx,
       |  unnest(chunks) AS chunk_text
       |FROM ch
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Cross-document repeated-passage detection — the 16-token-granular
    * form of exact-substring dedup (the Lee et al. "deduplicating training
    * data" shape): every 16-token window that appears in ≥ 2 documents,
    * with occurrence counts and the spanning doc-id range.
    *
    * Aggregates on the 8-byte `xxhash64(gram)` key, NOT the ~100-byte gram
    * string — the heavy shuffle (every window of the corpus) carries only
    * (hash, doc_id) pairs. The strings needed for output are recovered in
    * a second pass restricted to the ≥2-doc survivors (a rare set: 835 of
    * ~2.9M windows at sf0.01), joined back on the hash; an `assert_true`
    * guard fails loudly on a 64-bit hash collision (expected at ~2³²
    * distinct grams; the fallback is the string-keyed form this replaced)
    * rather than silently merging two passages. Trades one extra corpus
    * scan+explode for a ~10× narrower shuffle — the right trade at 100 TB
    * where the shuffle, not the scan, is the bottleneck. */
  private def t23(spark: SparkSession, dir: String): DataFrame = {
    GraftExpressions.register(spark)
    def grams = Corpus.documents(spark, dir)
      .select(col("doc_id"),
        explode(expr("graft_ngrams(text, 16)")).as("gram"))
    val agg = grams
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
      .groupBy(col("gh"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") >= 2)
    // join BEFORE any distinct: the survivor set is tiny, so AQE turns
    // this into a broadcast probe and the gram strings never shuffle —
    // only survivor occurrences reach the final (tiny) aggregation
    val names = grams
      .select(xxhash64(col("gram")).as("gh"), col("gram"))
      .join(agg, "gh")
      .groupBy(col("gh")).agg(
        min(col("gram")).as("gram"),
        countDistinct(col("gram")).as("n_grams"),
        first(col("n_docs")).as("n_docs"),
        first(col("n_occurrences")).as("n_occurrences"),
        first(col("min_doc")).as("min_doc"),
        first(col("max_doc")).as("max_doc"))
    names
      .withColumn("_collision_guard",
        assert_true(col("n_grams") === 1,
          lit("xxhash64 gram collision — re-run with string-keyed aggregation")))
      .filter(col("_collision_guard").isNull)
      .select(col("gram"), col("n_docs"), col("n_occurrences"),
        col("min_doc"), col("max_doc"))
      .orderBy(col("gram"))
  }

  private val t23Sql =
    s"""WITH g AS (
       |  SELECT doc_id, unnest([array_to_string(sp[i : i + 15], ' ')
       |                         for i in range(1, len(sp) - 15 + 1)]) AS gram
       |  FROM (SELECT doc_id, $toksSql AS sp FROM documents) WHERE len(sp) >= 16)
       |SELECT gram, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
       |FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
       |ORDER BY gram""".stripMargin

  /** Keep-one dedup materialization — the step that actually SHRINKS the
    * corpus: near-dup clusters (t13's components) keep their
    * highest-quality member (t02's score; ties → lowest doc_id), every
    * other member is marked for drop, and un-clustered docs keep
    * themselves. Composition of three verified operators; the window
    * partitions by cluster (clusters are tiny — no single-task sort).
    * Singleton cluster_id = own doc_id, collision-free: a component's
    * label is its min member's id, and that member is clustered. */
  private def t24(spark: SparkSession, dir: String): DataFrame = {
    val docs = Corpus.documents(spark, dir)
    val clusters = Dedup
      .dupClusters(Dedup.minhashNearDups(docs, shingleSize = 3, threshold = 0.8))
      .select(col("doc_id"), col("cluster_id"))
    val scored = docSignals(docs).select(col("doc_id"), col("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    scored.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster_id"), col("quality"), col("keep"))
      .orderBy(col("doc_id"))
  }

  private val t24Sql =
    s"""WITH RECURSIVE $shingleCte,
       |$dupClosureCtes,
       |q AS (SELECT doc_id, $qualitySql AS quality
       |      FROM ($docSignalsSql) WHERE n_tokens > 0),
       |j AS (SELECT q.doc_id, COALESCE(c.cluster_id, q.doc_id) AS cluster_id, q.quality
       |      FROM q LEFT JOIN clusters c ON q.doc_id = c.doc_id),
       |r2 AS (SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id) AS rn
       |       FROM j)
       |SELECT doc_id, cluster_id, quality, rn = 1 AS keep
       |FROM r2
       |ORDER BY doc_id""".stripMargin

  /** Training-corpus manifest — the end-to-end composition the engine
    * exists for: every document judged by the full preprocessing gauntlet
    * in ONE pass — quality score (t02's signals), repetition filter
    * (t18's dup-token fraction), exact-dedup keep-one (first doc per
    * content hash), and the deterministic train/val/test split (t14) —
    * with `selected` marking the rows a TRAINING run would actually read
    * (keep flags true AND split = train; validation/test rows carry their
    * flags but are never selected). One scan, one window on the content
    * hash (tiny partitions — dup groups), zero joins; every per-row
    * signal is scan-computed. */
  private def t25(spark: SparkSession, dir: String): DataFrame =
    batchManifest(Corpus.documents(spark, dir))

  /** Per-row half of the manifest — quality/repetition signals, the
    * deterministic split, and the content hash; everything except the
    * cross-document `dedup_keep`. Shared with
    * [[graft.streaming.StreamingManifest]] so the batch and streaming
    * manifests cannot drift arithmetically. */
  private[graft] def manifestSignals(docs: DataFrame): DataFrame =
    graft.operators.Sampling.hashSplit(docSignals(docs), "text")
      .withColumn("text_hash", md5(col("text")))
      .withColumn("quality_keep",
        col("quality") >= QualityMin && col("dup_token_frac") <= DupFracMax)

  /** Final manifest column set, given a computed `dedup_keep`. */
  private[graft] def manifestColumns(df: DataFrame): DataFrame =
    df.withColumn("selected",
        col("dedup_keep") && col("quality_keep") && col("split") === "train")
      .select(col("doc_id"), col("lang"), col("quality"), col("dup_token_frac"),
        col("split"), col("dedup_keep"), col("quality_keep"), col("selected"))

  /** Whole-corpus manifest over an arbitrary documents frame (t25 = this
    * over the corpus table). The streaming form's epoch union must equal
    * this on the same rows when epochs arrive in doc_id order — asserted
    * in StreamingSpec. */
  private[graft] def batchManifest(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("text_hash")).orderBy(col("doc_id"))
    manifestColumns(
      manifestSignals(docs).withColumn("dedup_keep", row_number().over(w) === 1))
      .orderBy(col("doc_id"))
  }

  private val t25Sql =
    s"""WITH s AS (
       |  SELECT doc_id, lang, quality, dup_token_frac,
       |    md5(text) AS text_hash,
       |    ${foldSql("text")} % 100 AS bucket
       |  FROM (SELECT *, $qualitySql AS quality FROM ($docSignalsSql))
       |  WHERE n_tokens > 0),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) = 1 AS dedup_keep,
       |    CASE WHEN bucket < 80 THEN 'train'
       |         WHEN bucket < 90 THEN 'validation' ELSE 'test' END AS split
       |  FROM s)
       |SELECT doc_id, lang, quality, dup_token_frac, split, dedup_keep,
       |  quality >= $QualityMin AND dup_token_frac <= $DupFracMax AS quality_keep,
       |  dedup_keep AND quality_keep AND split = 'train' AS selected
       |FROM r
       |ORDER BY doc_id""".stripMargin

  /** Exact 13-gram decontamination — the published GPT-3/PaLM recipe,
    * and the stricter sibling of t16's Jaccard audit: an eval document is
    * contaminated if ANY of its 13-grams appears verbatim in any training
    * document, however dissimilar the documents are overall. Split is
    * t14's deterministic content-hash split; grams shuffle as 8-byte
    * hashes ([[graft.operators.Dedup.ngramContamination]]). Oracle
    * replays the split and joins the literal gram strings. */
  private def t26(spark: SparkSession, dir: String): DataFrame = {
    val split = graft.operators.Sampling.hashSplit(Corpus.documents(spark, dir), "text")
    Dedup.ngramContamination(
        split.filter(col("split") === "train"),
        split.filter(col("split") =!= "train"), n = 13)
      .select(col("doc_id"), col("n_grams"), col("n_overlap"), col("contaminated"))
      .orderBy(col("doc_id"))
  }

  private val t26Sql =
    s"""WITH spl AS (SELECT doc_id, $toksSql AS sp,
       |               ${foldSql("text")} % 100 < 80 AS is_train
       |             FROM documents),
       |g AS (SELECT doc_id, is_train,
       |        unnest([array_to_string(sp[i : i + 12], ' ')
       |                for i in range(1, len(sp) - 12 + 1)]) AS gram
       |      FROM spl WHERE len(sp) >= 13),
       |tg AS (SELECT DISTINCT gram FROM g WHERE is_train),
       |eg AS (SELECT DISTINCT doc_id, gram FROM g WHERE NOT is_train)
       |SELECT eg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |  CAST(COUNT(tg.gram) AS BIGINT) AS n_overlap,
       |  COUNT(tg.gram) > 0 AS contaminated
       |FROM eg LEFT JOIN tg ON eg.gram = tg.gram
       |GROUP BY eg.doc_id
       |ORDER BY doc_id""".stripMargin

  /** Deterministic training-order shuffle: shard + in-shard position +
    * round-robin interleave key for every document, a pure function of
    * (seed, doc_id) — see [[graft.operators.Sampling.trainingOrder]].
    * The oracle recomputes the identical permutation from the portable
    * fold, so the hash gate checks shard assignment AND both orders. */
  private def t27(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.trainingOrder(
        Corpus.documents(spark, dir), idCol = "doc_id", seed = "ep0", nShards = 8)
      .select(col("doc_id"), col("shard").cast("long").as("shard"),
        col("pos"), col("global_pos"))
      .orderBy(col("doc_id"))

  private val t27Sql =
    s"""WITH base AS (
       |  SELECT doc_id, ${mixSql("'ep0:' || CAST(doc_id AS VARCHAR)")} AS fp
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, fp % 8 AS shard,
       |    row_number() OVER (PARTITION BY fp % 8 ORDER BY fp, doc_id) - 1 AS pos
       |  FROM base)
       |SELECT doc_id, CAST(shard AS BIGINT) AS shard, CAST(pos AS BIGINT) AS pos,
       |  CAST(pos * 8 + shard AS BIGINT) AS global_pos
       |FROM w
       |ORDER BY doc_id""".stripMargin

  // t28's per-language token budgets — interpolated into BOTH sides.
  private val EnTokenBudget = 6000L
  private val DefaultTokenBudget = 2500L

  /** Token-budget corpus mixing: keep documents per language, in
    * content-hash order, until the language's token budget is spent —
    * how training mixtures are actually specified ("20B tokens of code,
    * 5B of forums"). Deterministic like t19, but the cut is an absolute
    * token count, not a rate. The running total is the two-level
    * bucket-offset form ([[graft.operators.Sampling.tokenBudgetKeep]] —
    * no single-task per-language sort); the oracle computes the straight
    * one-window cumulative sum over the same canonical order, so the
    * hash gate also proves the two-level decomposition exact. */
  private def t28(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.tokenBudgetKeep(
        Corpus.documents(spark, dir)
          .withColumn("n_tokens", tokenCount(col("text")).cast("long"))
          .filter(col("n_tokens") > 0),
        keyCol = "text", idCol = "doc_id", stratumCol = "lang",
        tokenCol = "n_tokens", budgets = Map("en" -> EnTokenBudget),
        defaultBudget = DefaultTokenBudget, nBuckets = 256)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_before"),
        col("kept"))
      .orderBy(col("doc_id"))

  private val t28Sql =
    s"""WITH base AS (
       |  SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tokens,
       |    ${foldSql("text")} AS fp, ${foldSql("text")} % 256 AS bucket
       |  FROM documents WHERE len($toksSql) > 0),
       |w AS (
       |  SELECT doc_id, lang, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
       |      ORDER BY bucket, fp, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM base)
       |SELECT doc_id, lang, n_tokens, cum_before,
       |  cum_before < CASE WHEN lang = 'en' THEN $EnTokenBudget
       |                    ELSE $DefaultTokenBudget END AS kept
       |FROM w
       |ORDER BY doc_id""".stripMargin

  /** Incremental-dedup LIFECYCLE — the register half (t15 proves the
    * probe half): a day-0 corpus is indexed once, the day-1 drop is
    * registered into the index ([[graft.operators.Dedup.registerInNearDupIndex]]
    * — one new labelled snapshot committed beside the base, existing
    * index never rewritten), and the day-2 drop probes the extended
    * index. Half of the expected hits
    * (8 of 16 at sf0.01) pair day-2 docs with DAY-1 docs — rows that
    * exist only because registration extended the index past the base
    * build. Oracle: brute-force cross-set Jaccard of day-2 against
    * day-0 ∪ day-1. */
  private def t29(spark: SparkSession, dir: String): DataFrame = {
    val docs = Corpus.documents(spark, dir)
    val idx = CacheRegistry.scratchDir(spark, "graft_reg_idx_")
    Dedup.buildNearDupIndex(docs.filter(col("doc_id") % 3 === 0), idx)
    Dedup.registerInNearDupIndex(docs.filter(col("doc_id") % 3 === 1), idx, "day1")
    Dedup.nearDupsAgainstIndex(docs.filter(col("doc_id") % 3 === 2), idx)
  }

  private val t29Sql =
    s"""WITH $shingleCte
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS jaccard
       |FROM sh a JOIN sh b ON a.doc_id % 3 < 2 AND b.doc_id % 3 = 2
       |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Tokenizer induction: the first 16 BPE merges learned over the
    * corpus ([[graft.operators.Bpe.learnMerges]]). ORACLE-GATED since
    * r17 (VERDICT r16 #3, upgraded past the transitive-literal ask):
    * each merge's argmax depends on every previous merge's rewrite, so
    * there is no single-STATEMENT SQL form — but every iteration runs
    * on the vocabulary-sized word table with a deterministic argmax
    * (freq desc, pair asc), so DuckDB replays the loop as 16 chained
    * CTE blocks ([[bpeLearnSql]]): pair count → 1-row argmax →
    * §-fold rewrite with the winning pair joined in as columns (the
    * same fold t33 gates under literal merges). The learned table is
    * hash-gated merge-for-merge, freq-for-freq at every SF; BpeSpec
    * still pins the distributed learner to a single-node reference of
    * the published algorithm. */
  private def t30(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Bpe.learnMerges(Corpus.documents(spark, dir), nMerges = 16)
      .toDF().orderBy(col("rank"))
  }

  /** The t30 learn-replay oracle: iteration i's CTEs are
    * `p_i` (adjacent-pair weighted counts over generation i−1, the
    * `freq ≥ 2` stop floor), `b_i` (the argmax row — freq desc, then
    * pair ascending, Spark's codepoint tie-break ≡ DuckDB binary
    * collation on this ASCII corpus), and `s_i` (every word's symbol
    * array rewritten under the winning pair via the t33 §-fold; the
    * CROSS JOIN against the ≤1-row `b_i` makes early stop compose —
    * an empty argmax empties every later generation, exactly the
    * learner's `freq ≥ 2` termination). */
  private def bpeLearnSql(nMerges: Int): String = {
    // t33's mergeStep with the pair as COLUMNS (a, b) instead of
    // literals: keep the trailing `a`, append `b` — the tail then
    // reads a||b, the merged symbol
    val fold =
      s"""(acc, x) -> CASE WHEN x = b AND ends_with(acc, '§' || a || '§')
         |      THEN substring(acc, 1, length(acc) - 1) || b || '§'
         |      ELSE acc || x || '§' END""".stripMargin
    val rewrite =
      s"list_filter(str_split(list_reduce(list_prepend('§', seg), $fold), '§'), s -> s <> '')"
    val cs = "str_split(word, '')"
    val initial = s"list_append($cs[1:len($cs)-1], $cs[len($cs)] || '</w>')"
    val seed =
      s"""w0 AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT unnest($toksSql) AS word FROM documents) GROUP BY word),
         |s0 AS MATERIALIZED (SELECT word, n, $initial AS seg FROM w0)""".stripMargin
    val iters = (1 to nMerges).map { i =>
      val p = i - 1
      s"""p$i AS MATERIALIZED (SELECT seg[j] AS a, seg[j+1] AS b, CAST(sum(n) AS BIGINT) AS freq
         |  FROM s$p, LATERAL (SELECT unnest(range(1, len(seg))) AS j) jj
         |  GROUP BY a, b HAVING sum(n) >= 2),
         |b$i AS MATERIALIZED (SELECT a, b, freq FROM p$i ORDER BY freq DESC, a, b LIMIT 1),
         |s$i AS MATERIALIZED (SELECT word, n, $rewrite AS seg FROM s$p, b$i)""".stripMargin
    }
    val merges = (1 to nMerges)
      .map(i => s"""SELECT $i AS rank, a AS "left", b AS "right", a || b AS merged, freq FROM b$i""")
      .mkString("\nUNION ALL\n")
    s"""WITH ${(seed +: iters).mkString(",\n")}
       |SELECT CAST(rank AS INT) AS rank, "left", "right", merged, freq
       |FROM ($merges) ORDER BY rank""".stripMargin
  }

  private val t30Sql = bpeLearnSql(nMerges = 16)

  // t33's FIXED merge list — the apply side of BPE is deterministic and
  // non-iterative once the merges are given, so unlike t30 (learning,
  // inherently iterative) it CAN be oracle-checked. The list is a
  // constant so the DuckDB mirror can replay the identical rewrite; it
  // exercises the interesting shapes: three-deep cascades that assemble
  // whole corpus words ("hash", "scan", "join", "row"), a mid-word-only
  // merge ("er" never fires on word-final r</w>), and the greedy
  // left-to-right non-overlap rule ("hashhash" → has,h,hash</w>).
  private val t33Merges = Seq(
    ("h", "a"), ("ha", "s"), ("has", "h</w>"), ("r", "o"), ("ro", "w</w>"),
    ("s", "c"), ("a", "n</w>"), ("sc", "an</w>"), ("j", "o"), ("i", "n</w>"),
    ("jo", "in</w>"), ("e", "r"))
    .zipWithIndex.map { case ((l, r), i) => Bpe.Merge(i + 1, l, r, l + r, 0L) }

  /** BPE ENCODING under a fixed merge list — the tokenize step every
    * training pipeline runs after induction ([[t30]] learns, this
    * applies). Pure per-row transform chain (scan speed, zero shuffle):
    * [[graft.operators.Bpe.applyMergesTo]] replays each merge as a
    * greedy left-to-right fold over the word's symbol array. Unlike t30
    * this IS oracle-checked: the DuckDB mirror replays the same folds
    * over a `§`-separated encoding of the symbol list (the corpus is
    * ASCII-only and `§`-free at every SF, so the separator is
    * unambiguous), proving the distributed apply merge-for-merge,
    * word-for-word. Output: per doc, the unit count and the full
    * space-joined unit stream (units never contain spaces — they come
    * from whitespace tokens). */
  private def t33(spark: SparkSession, dir: String): DataFrame =
    Bpe.applyMergesTo(Corpus.documents(spark, dir), t33Merges)
      .select(col("doc_id"),
        size(col("bpe_units")).cast("long").as("n_units"),
        concat_ws(" ", col("bpe_units")).as("units"))
      .orderBy(col("doc_id"))

  private val t33Sql = {
    // the same fold as Bpe.applyMerge, over a §-separated symbol string:
    // a merged symbol is recognized only as the WHOLE trailing symbol
    // (the leading § anchors it), exactly like the Spark side's
    // full-symbol equality on the accumulator's last element.
    def mergeStep(a: String, b: String) =
      s"""(acc, x) -> CASE WHEN x = '$b' AND ends_with(acc, '§$a§')
         |      THEN substring(acc, 1, length(acc) - 1) || '$b' || '§'
         |      ELSE acc || x || '§' END""".stripMargin
    def applyMergeSql(prev: String, a: String, b: String) =
      s"list_filter(str_split(list_reduce(list_prepend('§', $prev), " +
        s"${mergeStep(a, b)}), '§'), s -> s <> '')"
    val cs = "str_split(w, '')"
    val initial = s"list_append($cs[1:len($cs)-1], $cs[len($cs)] || '</w>')"
    val seg = t33Merges.foldLeft(initial)((e, m) => applyMergeSql(e, m.left, m.right))
    s"""SELECT doc_id, CAST(len(units) AS BIGINT) AS n_units,
       |  array_to_string(units, ' ') AS units
       |FROM (SELECT doc_id,
       |        flatten(list_transform($toksSql, w -> $seg)) AS units
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Planted-chain connected components — the bench-scale exercise of the
    * O(log n) alternating large-star/small-star fallback that real dup
    * graphs (stars around a canonical text) never trigger. Edges chain
    * each language's docs in doc_id order, so the longest component's
    * diameter (en: ~218 docs per 0.01 SF unit) far exceeds any sane
    * propagation bound; [[graft.operators.Dedup.dupClusters]] is given a
    * deliberately tight `maxIter` so it detects non-convergence quickly
    * and restarts on [[graft.operators.Dedup.alternatingComponents]],
    * which closes the chains in ~log2(len) rounds. The oracle is exact
    * and closed-form: a full chain's component is its language, so the
    * label is the language's min doc_id and the size its doc count —
    * the hash gate checks the fallback's complete labeling, and the
    * bench timing gives the scheme the measured cost profile it lacked
    * (it was previously unit-tested only at 100 nodes). */
  private def t34(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
    val chain = Corpus.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn("doc_a", lag(col("doc_id"), 1).over(w))
      .filter(col("doc_a").isNotNull)
      .select(col("doc_a"), col("doc_id").as("doc_b"))
    Dedup.dupClusters(chain, maxIter = 3)
  }

  private val t34Sql =
    """SELECT doc_id, cluster_id, cluster_size FROM (
      |  SELECT doc_id,
      |    min(doc_id) OVER (PARTITION BY lang) AS cluster_id,
      |    count(*) OVER (PARTITION BY lang) AS cluster_size
      |  FROM documents)
      |WHERE cluster_size > 1
      |ORDER BY doc_id""".stripMargin

  /** DSIR importance resampling toward a target domain
    * ([[graft.operators.Sampling.dsirResample]]; Xie et al., NeurIPS'23):
    * hashed uni+bigram bucket LMs (8192 buckets) for the English slice
    * (target) vs the whole corpus (raw), per-doc log-ratio importance
    * weight through the decimal detour, hash-derived Gumbel-threshold
    * selection at a fixed τ. At sf0.01 it keeps ~25% of the corpus with
    * English docs at ~2× the keep rate of the others — the
    * "look-like-the-target" tilt the method exists for, with the Gumbel
    * noise preserving diversity. The oracle replays the ENTIRE pipeline:
    * hashed buckets (portable fold), both smoothed LMs, each gram's ln
    * ratio, the decimal-detour sum, and the Gumbel perturbation — so the
    * hash gates every weight and every selection verdict. */
  private def t35(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.dsirResample(Corpus.documents(spark, dir),
      "text", "doc_id", col("lang") === "en", buckets = 8192,
      seed = "dsir-r9", tau = -10.5)

  private val t35Sql = {
    val b = 8192
    def u = s"((${mixSql(s"'dsir-r9:' || CAST(doc_id AS VARCHAR)")}) + 1) / 2147483647.0"
    s"""WITH d AS (SELECT doc_id, lang, $toksSql AS sp FROM documents WHERE len($toksSql) > 0),
       |g AS (SELECT doc_id, lang,
       |        unnest(sp || list_transform(range(1, len(sp)), i -> sp[i] || ' ' || sp[i+1])) AS gram
       |      FROM d),
       |gb AS (SELECT doc_id, lang, ${foldSql("gram")} % $b AS b FROM g),
       |t AS (SELECT b, count(*) AS ct FROM gb WHERE lang = 'en' GROUP BY b),
       |r AS (SELECT b, count(*) AS cr FROM gb GROUP BY b),
       |nt AS (SELECT count(*) AS n FROM gb WHERE lang = 'en'),
       |nr AS (SELECT count(*) AS n FROM gb),
       |lr AS (SELECT gb.doc_id,
       |         ln((COALESCE(t.ct, 0) + 1.0) / (nt.n + $b)) - ln((r.cr + 1.0) / (nr.n + $b)) AS logratio
       |       FROM gb LEFT JOIN t ON gb.b = t.b JOIN r ON gb.b = r.b, nt, nr),
       |w AS (SELECT doc_id, count(*) AS n_grams, ${graft.queries.Num.dsumSql("logratio")} AS weight
       |      FROM lr GROUP BY doc_id),
       |k AS (SELECT doc_id, n_grams, weight,
       |        weight + (- ln(- ln($u))) AS gumbel_key
       |      FROM w)
       |SELECT doc_id, n_grams, weight, gumbel_key, gumbel_key >= -10.5 AS selected
       |FROM k ORDER BY doc_id""".stripMargin
  }

  /** Temperature-based mixture sampling
    * ([[graft.operators.Sampling.temperatureKeep]]; the mBERT/XLM-R
    * share^α rule, α = 0.3): per-language keep rates from the corpus
    * shares flattened by the temperature — low-resource languages keep a
    * LARGER fraction than their raw share — realized as deterministic
    * content-hash keeps with an expected total of 200 docs. The oracle
    * recomputes shares, the α-power weights, the decimal-detour
    * normalizer, every rate, and every hash-keep verdict. */
  private def t36(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temperatureKeep(Corpus.documents(spark, dir),
      "text", "lang", alpha = 0.3, targetRows = 200L)
      .select(col("doc_id"), col("lang"), col("rate"), col("kept"))
      .orderBy(col("doc_id"))

  private val t36Sql =
    s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
       |tot AS (SELECT sum(n) AS total FROM c),
       |q AS (SELECT lang, n, pow(CAST(n AS DOUBLE) / total, 0.3) AS q FROM c, tot),
       |z AS (SELECT CAST(SUM(CAST(q AS DECIMAL(30,6))) AS DOUBLE) AS z FROM q),
       |r AS (SELECT lang, least(1.0, 200.0 * (q / z) / n) AS rate FROM q, z)
       |SELECT d.doc_id, d.lang, r.rate,
       |  (CAST(${foldSql("text")} AS DOUBLE) / 2147483647.0) < r.rate AS kept
       |FROM documents d JOIN r USING (lang)
       |ORDER BY d.doc_id""".stripMargin

  /** Fill-in-the-middle training transform
    * ([[graft.operators.Packing.fimTransform]]; Bavarian et al. 2022):
    * half the corpus rewritten to the PSM `<PRE>/<SUF>/<MID>` layout with
    * hash-derived gate and cut points, half passing through — the joint
    * FIM+AR data recipe of code models. Scan-speed per-row rewrite, zero
    * shuffle. The oracle recomputes the gate, both cut points, and the
    * full rewritten text byte-for-byte. */
  private def t37(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.fimTransform(Corpus.documents(spark, dir),
      "text", "doc_id", seed = "fim-r9", ratePct = 50)
      .select(col("doc_id"), col("fim"), col("fim_text"))
      .orderBy(col("doc_id"))

  private val t37Sql = {
    def fp(tag: String) = mixSql(s"'fim-r9:$tag:' || CAST(doc_id AS VARCHAR)")
    def cut(tag: String) =
      s"CAST(floor(CAST(${fp(tag)} AS DOUBLE) / 2147483647.0 * (length(text) + 1)) AS INT)"
    s"""WITH u AS (SELECT doc_id, text, length(text) AS len,
       |    ${fp("gate")} % 100 < 50 AS fim,
       |    ${cut("c1")} AS c1, ${cut("c2")} AS c2
       |  FROM documents),
       |c AS (SELECT doc_id, text, len, fim,
       |        least(c1, c2) AS lo, greatest(c1, c2) AS hi FROM u)
       |SELECT doc_id, fim,
       |  CASE WHEN fim THEN '<PRE> ' || substr(text, 1, lo)
       |       || ' <SUF> ' || substr(text, hi + 1, len - hi)
       |       || ' <MID> ' || substr(text, lo + 1, hi - lo)
       |       ELSE text END AS fim_text
       |FROM c ORDER BY doc_id""".stripMargin
  }

  /** T5 span corruption ([[graft.operators.Packing.spanCorrupt]]; Raffel
    * et al. JMLR'20): ~15% of each doc's tokens masked in mean-3-token
    * spans, inputs carrying numbered sentinels, targets the hidden
    * tokens — the denoising-objective example constructor, deterministic
    * via segment-confined hash-placed spans. The oracle rebuilds every
    * span boundary and both output strings byte-for-byte. */
  private def t38(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.spanCorrupt(Corpus.documents(spark, dir),
      "text", "doc_id", seed = "span-r9")
      .select(col("doc_id"), col("corrupted"), col("n_spans"),
        col("input_text"), col("target_text"))
      .orderBy(col("doc_id"))

  private val t38Sql = {
    val lenE = "least(c // k + CASE WHEN s.i < c % k THEN 1 ELSE 0 END, seg)"
    val foldI = mixSql("'span-r9:' || s.i || ':' || doc_id")
    s"""WITH d AS (SELECT doc_id, text, $toksSql AS sp, len($toksSql) AS n FROM documents),
       |p AS (SELECT *, greatest(1, (n * 15) // 100) AS c FROM d),
       |p2 AS (SELECT *, greatest(1, c // 3) AS k FROM p),
       |p3 AS (SELECT *, n // k AS seg FROM p2),
       |s0 AS (SELECT doc_id, text, sp, n, c, k, seg,
       |        list_transform(range(0, k), i -> struct_pack(i := i)) AS spans0
       |      FROM p3),
       |s1 AS (SELECT doc_id, text, sp, n, c, k, seg,
       |        list_transform(spans0, s -> struct_pack(
       |          i := s.i,
       |          len := $lenE,
       |          off := CAST(floor(CAST($foldI AS DOUBLE) / 2147483647.0 * (seg - $lenE + 1)) AS INT))) AS spans
       |      FROM s0)
       |SELECT doc_id, n >= 8 AS corrupted,
       |  CAST(CASE WHEN n >= 8 THEN k ELSE 0 END AS BIGINT) AS n_spans,
       |  CASE WHEN n >= 8 THEN array_to_string(
       |    flatten(list_transform(spans, s ->
       |      list_slice(sp, s.i * seg + 1, s.i * seg + s.off)
       |      || ['<X' || s.i || '>']
       |      || list_slice(sp, s.i * seg + s.off + s.len + 1, (s.i + 1) * seg)))
       |    || list_slice(sp, k * seg + 1, n), ' ')
       |  ELSE text END AS input_text,
       |  CASE WHEN n >= 8 THEN array_to_string(
       |    flatten(list_transform(spans, s ->
       |      ['<X' || s.i || '>'] || list_slice(sp, s.i * seg + s.off + 1, s.i * seg + s.off + s.len))), ' ')
       |  ELSE '' END AS target_text
       |FROM s1 ORDER BY doc_id""".stripMargin
  }

  // BM25 parameters (Robertson k1/b defaults) and the fixed query.
  // Derived constants are interpolated into BOTH sides from the same
  // Scala doubles (Double.toString round-trips, so DuckDB parses the
  // exact same binary values — writing "2.2" by hand would not match
  // 1.2 + 1 if that sum isn't the nearest double to 2.2).
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25Query = Seq("hash", "join", "window")

  /** BM25 top-20 retrieval — the scoring behind hard-negative mining and
    * retrieval-based curation in training pipelines. One explode →
    * per-(doc,term) tf (the scan's heavy lift, filtered to the query's
    * terms BEFORE the shuffle), document frequencies and corpus stats
    * broadcast back, per-term contributions summed through the
    * DECIMAL(30,6) detour ([[Num.dsum]]) so the 3-term sum is
    * accumulation-order-independent, total order (score desc, doc_id)
    * before the limit. avgdl is exact-integer total/count, identical
    * across engines. */
  // BM25 scores for every matching doc — t31 takes the top 20, the
  // hybrid t46 rank-fuses the top 50 with a vector ranking, t76's
  // feedback pass re-scores with an expanded term set.
  private def bm25Scores(spark: SparkSession, dir: String): DataFrame =
    bm25ScoresFor(spark, dir, Bm25Query)

  private def bm25ScoresFor(spark: SparkSession, dir: String,
      queryTerms: Seq[String]): DataFrame = {
    val docs = Corpus.documents(spark, dir)
    val dl = docs
      .withColumn("dl", tokenCount(col("text")).cast("long"))
      .filter(col("dl") > 0)
      .select(col("doc_id"), col("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val tf = docs
      // substring prefilter: a strict superset of the token match, so
      // results are unchanged — but docs that can't contain a query term
      // are never exploded, and the predicate reaches the parquet scan.
      // With realistic (rare) query terms this skips most of a 100 TB
      // corpus before the expensive generator.
      .filter(queryTerms.map(t => col("text").contains(t)).reduce(_ || _))
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      // ONE scoring-formula definition, shared with the persisted-index
      // probe (graft.operators.Retrieval.bm25AgainstIndex) — the t46Sql
      // shared-fragment lesson applied to the Scala side
      .withColumn("contrib", graft.operators.Retrieval.bm25Contribution(
        col("tf"), col("df"), col("dl"), col("n_docs"), col("total_dl"),
        Bm25K1, Bm25B))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"), Num.dsum(col("contrib")).as("bm25"))
  }

  private def t31(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(spark, dir)
      .orderBy(desc("bm25"), col("doc_id"))
      .limit(20)

  /** Persisted BM25 inverted index probe
    * ([[graft.operators.Retrieval.buildBm25Index]] /
    * [[graft.operators.Retrieval.bm25AgainstIndex]]): tokenize and count
    * once at build — term-bucketed posting lists, document frequencies,
    * lengths, and the exact corpus stats as index artifacts — then serve
    * the t31 query from the posting lists alone, reading only the
    * buckets the query terms hash to (partition pruning, PlanSpec-
    * pinned). The oracle is t31's VERBATIM: the persisted probe must
    * reproduce the in-memory ranking bit for bit (the v11 discipline
    * applied to lexical retrieval). */
  private def t53(spark: SparkSession, dir: String): DataFrame = {
    val idx = CacheRegistry.scratchDir(spark, "graft_bm25_idx_")
    graft.operators.Retrieval.buildBm25Index(spark, Corpus.documents(spark, dir),
      idx, nBuckets = 32, k1 = Bm25K1, b = Bm25B)
    graft.operators.Retrieval.bm25AgainstIndex(spark, idx, Bm25Query, k = 20)
  }

  // Shared BM25 CTE chain (dl/stats/tf/dfreq/sc, optionally suffixed) —
  // ONE definition used by the t31/t46/t76 mirrors, matching the Scala
  // side's shared bm25ScoresFor: an oracle fix applied to one query
  // can't silently diverge the others. `termPred` selects the query
  // terms (a literal IN-list, or t76's data-dependent expansion);
  // `suffix` disambiguates a second chain instance in one statement.
  private def bm25CoreSqlFor(suffix: String, termPred: String): String =
    s"""dl$suffix AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS dl
       |            FROM documents WHERE len($toksSql) > 0),
       |stats$suffix AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl$suffix),
       |tf$suffix AS (SELECT doc_id, term, COUNT(*) AS tf
       |       FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents)
       |       WHERE $termPred GROUP BY doc_id, term),
       |dfreq$suffix AS (SELECT term, COUNT(*) AS df FROM tf$suffix GROUP BY term),
       |sc$suffix AS (SELECT tf$suffix.doc_id,
       |         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
       |           (tf * ${Bm25K1 + 1} /
       |            (tf + $Bm25K1 * (${1 - Bm25B} + $Bm25B * dl /
       |                             (CAST(total_dl AS DOUBLE) / n_docs)))) AS contrib
       |       FROM tf$suffix JOIN dfreq$suffix USING (term) JOIN dl$suffix USING (doc_id) CROSS JOIN stats$suffix)""".stripMargin

  private val bm25QueryTermsSql = Bm25Query.map(t => s"'$t'").mkString(", ")

  private val bm25CoreSql =
    bm25CoreSqlFor("", s"term IN ($bm25QueryTermsSql)")

  private val t31Sql =
    s"""WITH $bm25CoreSql
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
       |  ${Num.dsumSql("contrib")} AS bm25
       |FROM sc GROUP BY doc_id
       |ORDER BY bm25 DESC, doc_id
       |LIMIT 20""".stripMargin

  /** Hybrid retrieval via reciprocal-rank fusion
    * ([[graft.operators.Retrieval.rrfFuse]]; Cormack, Clarke & Büttcher,
    * SIGIR 2009): the t31 BM25 lexical ranking (top 50) fused with an
    * exact cosine ranking against a query embedding (vec 0, top 50) by
    * `Σ 1/(60 + rank)` — the standard hybrid-search combination that
    * never compares scores across systems, only ranks. Docs ranked by
    * one system alone survive with a single contribution (no
    * imputation). Both rank lists, every fusion sum (decimal detour),
    * and the final (rrf desc, doc_id) order are oracle-replayed. */
  private def t46(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // rank windows run over the already-limited 50-row frames: one task,
    // by construction bounded. Both rank lists feed TWO plan branches
    // (the fusion and the rank join-back) — tracked, or each system's
    // full corpus scan would execute twice.
    val bmTop = CacheRegistry.track(bm25Scores(spark, dir)
      .orderBy(desc("bm25"), col("doc_id")).limit(50)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(desc("bm25"), col("doc_id")))
          .cast("long").as("bm25_rank")))
    val vecTop = CacheRegistry.track(Similarity.cosineTopKForQueries(spark,
        Corpus.embeddings(spark, dir), col("vec_id") === 0, k = 50)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("vec_rank")))
    val fused = Retrieval.rrfFuse(
      Seq(bmTop.withColumnRenamed("bm25_rank", "rank"),
        vecTop.withColumnRenamed("vec_rank", "rank")),
      "doc_id", "rank", kRrf = 60, topK = 20)
    fused
      .join(bmTop, Seq("doc_id"), "left")
      .join(vecTop, Seq("doc_id"), "left")
      .select(col("doc_id"), col("bm25_rank"), col("vec_rank"),
        col("n_systems"), col("rrf"))
      .orderBy(desc("rrf"), col("doc_id"))
  }

  private val t46Sql =
    s"""WITH $bm25CoreSql,
       |bm AS (SELECT doc_id, ${Num.dsumSql("contrib")} AS bm25 FROM sc GROUP BY doc_id),
       |br AS (SELECT doc_id, bm25_rank FROM (
       |         SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS bm25_rank
       |         FROM bm) WHERE bm25_rank <= 50),
       |nn AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |       FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |             FROM embeddings)),
       |qv AS (SELECT v AS qv, nrm AS qnrm FROM nn WHERE vec_id = 0),
       |vs AS (SELECT a.vec_id AS doc_id,
       |         list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * qv.qv[i]))
       |           / (a.nrm * qv.qnrm) AS cos
       |       FROM nn a, qv WHERE a.vec_id <> 0),
       |vr AS (SELECT doc_id, vec_rank FROM (
       |         SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS vec_rank
       |         FROM vs) WHERE vec_rank <= 50),
       |u AS (SELECT doc_id, 1.0 / (60 + bm25_rank) AS c FROM br
       |      UNION ALL SELECT doc_id, 1.0 / (60 + vec_rank) FROM vr),
       |f AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_systems,
       |        ${Num.dsumSql("c")} AS rrf
       |      FROM u GROUP BY doc_id
       |      ORDER BY rrf DESC, doc_id LIMIT 20)
       |SELECT f.doc_id, br.bm25_rank, vr.vec_rank, f.n_systems, f.rrf
       |FROM f LEFT JOIN br USING (doc_id) LEFT JOIN vr USING (doc_id)
       |ORDER BY f.rrf DESC, f.doc_id""".stripMargin

  /** Training-corpus EXPORT, end to end: the t25 manifest picks the
    * rows, t27's ordering shards them, and
    * [[graft.io.TrainingExport.exportTrainingCorpus]] writes the
    * partitioned files a training run reads. The query summarizes the
    * READ-BACK files per shard — doc count, token total, max and
    * distinct position — so the oracle (which replays selection +
    * shard hash + dense ordering in SQL) catches a lost row, a
    * misassigned shard, a token-count drift, or a gap/duplicate in the
    * written positions. */
  private def t32(spark: SparkSession, dir: String): DataFrame = {
    val out = CacheRegistry.scratchDir(spark, "graft_export_")
    graft.io.TrainingExport
      .exportTrainingCorpus(Corpus.documents(spark, dir), out)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        max(col("pos")).as("max_pos"),
        countDistinct(col("pos")).as("n_distinct_pos"))
      .orderBy(col("shard"))
  }

  private val t32Sql =
    s"""WITH s AS (
       |  SELECT doc_id, lang, text,
       |    md5(text) AS text_hash,
       |    ${foldSql("text")} % 100 AS bucket,
       |    CAST(n_tokens AS BIGINT) AS n_tokens,
       |    $qualitySql AS quality, dup_token_frac
       |  FROM ($docSignalsSql) WHERE n_tokens > 0),
       |sel AS (
       |  SELECT doc_id, n_tokens,
       |    ${mixSql("'train-v1:' || CAST(doc_id AS VARCHAR)")} % 8 AS shard
       |  FROM (SELECT *,
       |          row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) = 1 AS dedup_keep
       |        FROM s)
       |  WHERE dedup_keep AND quality >= $QualityMin AND dup_token_frac <= $DupFracMax
       |    AND bucket < 80)
       |SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(COUNT(*) - 1 AS BIGINT) AS max_pos,
       |  COUNT(*) AS n_distinct_pos
       |FROM sel
       |GROUP BY shard
       |ORDER BY shard""".stripMargin

  /** WordPiece greedy longest-match encode under a deterministically
    * selected position-classed vocabulary
    * ([[graft.operators.WordPiece]]; Wu et al. 2016 §4.1, the BERT
    * tokenizer): the third tokenizer-decode gate beside t33 (BPE) and
    * t51 (unigram), same (word, wfreq, n_pieces, encoded) surface.
    * The oracle replays the classed substring counts, the top-40 +
    * single-chars-of-both-classes selection, and the greedy march —
    * the longest-match choice at every position materialized as a
    * (word, pos) → best-piece table, chained by a recursive CTE. The
    * coverage floor (all single chars, both classes) means the corpus
    * can never hit [UNK], keeping the recursion an inner join; the
    * [UNK] fallback is unit-tested directly in WordPieceSpec. */
  private def t54(spark: SparkSession, dir: String): DataFrame = {
    val docs = Corpus.documents(spark, dir)
    graft.operators.WordPiece.encodeWords(docs,
      graft.operators.WordPiece.selectVocab(docs, vocabSize = 40, maxPieceLen = 4))
  }

  private val t54Sql =
    s"""WITH RECURSIVE
       |w AS (SELECT word, CAST(count(*) AS BIGINT) AS wfreq FROM (
       |        SELECT unnest($wsToksSql) AS word FROM documents) GROUP BY word),
       |sub AS (SELECT CASE WHEN p = 1 THEN s ELSE '##' || s END AS piece,
       |          CAST(sum(w.wfreq) AS BIGINT) AS cnt
       |        FROM w,
       |          LATERAL (SELECT unnest(range(1, length(w.word) + 1)) AS p) pp,
       |          LATERAL (SELECT unnest(range(1, least(4, length(w.word) - p + 1) + 1)) AS l) ll,
       |          LATERAL (SELECT substr(w.word, CAST(p AS INT), CAST(l AS INT)) AS s) ss
       |        GROUP BY piece),
       |sel AS (SELECT piece FROM (
       |          SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rk FROM sub)
       |        WHERE rk <= 40 OR length(piece) = 1
       |           OR (piece LIKE '##%' AND length(piece) = 3)),
       |cand0 AS (SELECT w.word, CAST(p - 1 AS INT) AS pos, CAST(l AS INT) AS l,
       |            CASE WHEN p = 1 THEN substr(w.word, CAST(p AS INT), CAST(l AS INT))
       |                 ELSE '##' || substr(w.word, CAST(p AS INT), CAST(l AS INT)) END AS piece
       |          FROM w,
       |            LATERAL (SELECT unnest(range(1, length(w.word) + 1)) AS p) pp,
       |            LATERAL (SELECT unnest(range(1, least(4, length(w.word) - p + 1) + 1)) AS l) ll),
       |mt AS (SELECT c.word, c.pos, c.l, c.piece
       |       FROM cand0 c JOIN sel s ON s.piece = c.piece),
       |best AS (SELECT word, pos, l, piece FROM (
       |           SELECT *, row_number() OVER (PARTITION BY word, pos ORDER BY l DESC) AS rk
       |           FROM mt)
       |         WHERE rk = 1),
       |enc AS (
       |  SELECT word, 0 AS pos, CAST([] AS VARCHAR[]) AS pieces FROM w
       |  UNION ALL
       |  SELECT e.word, e.pos + b.l, list_append(e.pieces, b.piece)
       |  FROM enc e JOIN best b ON b.word = e.word AND b.pos = e.pos
       |  WHERE e.pos < length(e.word)),
       |done AS (SELECT word, pieces FROM enc WHERE pos = length(word))
       |SELECT w.word, w.wfreq, CAST(len(d.pieces) AS BIGINT) AS n_pieces,
       |  array_to_string(d.pieces, '|') AS encoded
       |FROM w JOIN done d ON w.word = d.word
       |ORDER BY w.word""".stripMargin

  /** Count-Min point estimates for every distinct token
    * ([[graft.operators.Frequency.cmsEstimates]]; Cormode &
    * Muthukrishnan 2005) — the estimating sibling of t52's Misra-Gries
    * candidates: a 4×32 counter matrix (narrower than the 31-word
    * vocabulary, so collisions genuinely occur and overestimates are
    * non-trivial), estimates = min over rows. The matrix is a SUM —
    * merge-order independent — and its hashes are the portable fold,
    * so the oracle rebuilds every cell and replays every min: the
    * approximate answer is hash-gated data, not a tolerance check. */
  private def t55(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Frequency.cmsEstimates(
      Corpus.documents(spark, dir), depth = 4, width = 32)

  private val t55Sql = {
    def cellOf(r: String) = s"(${foldSql(s"'cms:' || $r || ':' || token")}) % 32"
    s"""WITH w AS (SELECT unnest($toksSql) AS token FROM documents),
       |cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM w GROUP BY token),
       |rc AS (SELECT cnt.token, cnt.freq, CAST(r AS INT) AS row, ${cellOf("r")} AS cell
       |       FROM cnt, LATERAL (SELECT unnest(range(0, 4)) AS r) rr),
       |cells AS (SELECT row, cell, CAST(sum(freq) AS BIGINT) AS cellcnt
       |          FROM rc GROUP BY row, cell),
       |est AS (SELECT t.token, t.freq, min(c.cellcnt) AS est
       |        FROM rc t JOIN cells c ON c.row = t.row AND c.cell = t.cell
       |        GROUP BY t.token, t.freq)
       |SELECT token, freq, est, est - freq AS overestimate
       |FROM est ORDER BY freq DESC, token""".stripMargin
  }

  /** Weighted reservoir sample without replacement
    * ([[graft.operators.Sampling.weightedReservoir]]; Efraimidis &
    * Spirakis IPL 2006, A-Res): k = 25 winners by `ln(u)/w` with
    * `w = n_chars` and u from the portable mix — the draw is a pure
    * function of (seed, id, weight), so the sampled SET itself is
    * hash-gated (the rand()-free counterpart of `df.sample`). Engine
    * side runs the bounded k-heap aggregate (map-side partials, no
    * global sort); the oracle replays every key and the full ranking. */
  private def t56(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedReservoir(
      Corpus.documents(spark, dir), "doc_id", col("n_chars"), k = 25,
      seed = "wres-r11")

  private val t56Sql = {
    val u = s"CAST((${mixSql("'wres-r11:' || CAST(doc_id AS VARCHAR)")}) + 1 AS DOUBLE) / CAST(2147483647 AS DOUBLE)"
    s"""WITH w AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight, $u AS u
       |           FROM documents WHERE CAST(n_chars AS DOUBLE) > 0),
       |k AS (SELECT doc_id, weight, ln(u) / weight AS res_key FROM w),
       |r AS (SELECT *, row_number() OVER (ORDER BY res_key DESC, doc_id) AS rank FROM k)
       |SELECT doc_id, weight, res_key, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 25
       |ORDER BY rank""".stripMargin
  }

  /** Bloom-filtered 13-gram decontamination
    * ([[graft.operators.Dedup.bloomContamination]]; Bloom CACM 1970 over
    * the GPT-3/PaLM exact-gram recipe) — the bounded-memory scale path
    * for t26: the training side's gram inventory folds into a 2²⁰-bit
    * filter (raw grams never shuffle on the build side; partition masks
    * OR together), eval grams probe the broadcast set positions. Same
    * deterministic split as t26, so the two queries are directly
    * comparable: bloom hits ⊇ exact hits (no false negatives — the safe
    * direction), and the measured per-doc false-positive count is
    * itself hash-gated because every bit position is the portable
    * fold. */
  private def t57(spark: SparkSession, dir: String): DataFrame = {
    val split = graft.operators.Sampling.hashSplit(Corpus.documents(spark, dir), "text")
    graft.operators.Dedup.bloomContamination(
        split.filter(col("split") === "train"),
        split.filter(col("split") =!= "train"), n = 13)
      .orderBy(col("doc_id"))
  }

  private val t57Sql = {
    def posOf(g: String, h: String) =
      s"(${foldSql(s"'bf:' || $h || ':' || $g")}) % 1048576"
    s"""WITH spl AS (SELECT doc_id, $toksSql AS sp,
       |               ${foldSql("text")} % 100 < 80 AS is_train
       |             FROM documents),
       |g AS (SELECT doc_id, is_train,
       |        unnest([array_to_string(sp[i : i + 12], ' ')
       |                for i in range(1, len(sp) - 12 + 1)]) AS gram
       |      FROM spl WHERE len(sp) >= 13),
       |tg AS (SELECT DISTINCT gram FROM g WHERE is_train),
       |bp AS (SELECT DISTINCT ${posOf("gram", "h")} AS pos
       |       FROM tg, LATERAL (SELECT unnest(range(0, 2)) AS h) hh),
       |eg AS (SELECT DISTINCT doc_id, gram FROM g WHERE NOT is_train),
       |ep AS (SELECT doc_id, gram, ${posOf("gram", "h")} AS pos
       |       FROM eg, LATERAL (SELECT unnest(range(0, 2)) AS h) hh),
       |hit AS (SELECT ep.doc_id, ep.gram, count(bp.pos) = 2 AS bloom_hit
       |        FROM ep LEFT JOIN bp ON bp.pos = ep.pos
       |        GROUP BY ep.doc_id, ep.gram),
       |ex AS (SELECT eg.doc_id, eg.gram, tg.gram IS NOT NULL AS exact_hit
       |       FROM eg LEFT JOIN tg ON eg.gram = tg.gram)
       |SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN h.bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
       |  CAST(sum(CASE WHEN ex.exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hits,
       |  CAST(sum(CASE WHEN h.bloom_hit THEN 1 ELSE 0 END)
       |    - sum(CASE WHEN ex.exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives,
       |  sum(CASE WHEN h.bloom_hit THEN 1 ELSE 0 END) > 0 AS contaminated
       |FROM hit h JOIN ex ON h.doc_id = ex.doc_id AND h.gram = ex.gram
       |GROUP BY h.doc_id
       |ORDER BY h.doc_id""".stripMargin
  }

  /** WordPiece merge learning
    * ([[graft.operators.WordPiece.learnMerges]]; Schuster & Nakajima
    * ICASSP 2012 likelihood criterion, the HF WordPieceTrainer): per
    * round the argmax of `freq(pair)/(freq(l)·freq(r))` merges — the
    * learn half of the third tokenizer family (t54 is its gated decode
    * half), completing the learn+encode symmetry with BPE (t30/t33) and
    * unigram (t50/t51). ORACLE-GATED since r17 (the t30 pattern, with
    * the likelihood twist): each iteration additionally recounts
    * SYMBOL frequencies and scores pairs by the double ratio — an IEEE
    * division of exact integer counts, identical wherever the same
    * counts meet it, so even the double-valued argmax replays
    * bit-for-bit in DuckDB ([[wordPieceLearnSql]]). WordPieceSpec
    * still pins the learner merge-for-merge to a single-node
    * reference. */
  private def t58(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.WordPiece.learnMerges(Corpus.documents(spark, dir), nMerges = 12)
      .map(m => (m.rank.toLong, m.left, m.right, m.merged, m.score, m.freq))
      .toDF("rank", "left", "right", "merged", "score", "freq")
      .orderBy(col("rank"))
  }

  /** The t58 learn-replay oracle (the [[bpeLearnSql]] chain shape plus
    * per-iteration symbol counts `y_i` and the likelihood score):
    * initial symbols are first-char bare / rest `##`-prefixed, the
    * argmax orders by (score desc, pair asc), and the §-fold rewrite
    * appends `b` WITHOUT its `##` prefix (merged = l + strip(r), the
    * HF convention t54 decodes under). */
  private def wordPieceLearnSql(nMerges: Int): String = {
    val fold =
      s"""(acc, x) -> CASE WHEN x = b AND ends_with(acc, '§' || a || '§')
         |      THEN substring(acc, 1, length(acc) - 1) || regexp_replace(b, '^##', '') || '§'
         |      ELSE acc || x || '§' END""".stripMargin
    val rewrite =
      s"list_filter(str_split(list_reduce(list_prepend('§', seg), $fold), '§'), s -> s <> '')"
    val initial =
      """list_transform(range(1, length(word) + 1),
        |    p -> CASE WHEN p = 1 THEN word[1] ELSE '##' || word[CAST(p AS INT)] END)""".stripMargin
    val seed =
      s"""w0 AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT unnest($wsToksSql) AS word FROM documents) GROUP BY word),
         |s0 AS MATERIALIZED (SELECT n, $initial AS seg FROM w0)""".stripMargin
    val iters = (1 to nMerges).map { i =>
      val p = i - 1
      s"""y$i AS MATERIALIZED (SELECT s, CAST(sum(n) AS BIGINT) AS cnt
         |  FROM s$p, LATERAL (SELECT unnest(seg) AS s) ss GROUP BY s),
         |p$i AS MATERIALIZED (SELECT seg[j] AS a, seg[j+1] AS b, CAST(sum(n) AS BIGINT) AS freq
         |  FROM s$p, LATERAL (SELECT unnest(range(1, len(seg))) AS j) jj
         |  GROUP BY a, b HAVING sum(n) >= 2),
         |b$i AS MATERIALIZED (SELECT a, b,
         |    CAST(freq AS DOUBLE) / (CAST(cl.cnt AS DOUBLE) * CAST(cr.cnt AS DOUBLE)) AS score, freq
         |  FROM p$i JOIN y$i cl ON p$i.a = cl.s JOIN y$i cr ON p$i.b = cr.s
         |  ORDER BY score DESC, a, b LIMIT 1),
         |s$i AS MATERIALIZED (SELECT n, $rewrite AS seg FROM s$p, b$i)""".stripMargin
    }
    val merges = (1 to nMerges)
      .map(i => s"""SELECT $i AS rank, a AS "left", b AS "right",
                   |  a || regexp_replace(b, '^##', '') AS merged, score, freq FROM b$i""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH ${(seed +: iters).mkString(",\n")}
       |SELECT CAST(rank AS BIGINT) AS rank, "left", "right", merged, score, freq
       |FROM ($merges) ORDER BY rank""".stripMargin
  }

  private val t58Sql = wordPieceLearnSql(nMerges = 12)

  /** Deterministic HyperLogLog distinct 13-grams per language
    * ([[graft.operators.Frequency.hllDistinct]]; Flajolet et al. 2007) —
    * the hash-GATED sibling of q23's `approx_count_distinct` (whose
    * HLL++ binary state is engine-specific — q23 gates an accuracy
    * BOUND against DuckDB's exact counts since r17; this gates the
    * registers themselves):
    * every register derives from the portable fold's Knuth remix, so
    * DuckDB rebuilds the full register file per language and replays
    * the estimate, the linear-counting branch, and the measured
    * rel_err. Completes the mergeable-sketch family's last asymmetry —
    * MG/CMS/Bloom/HLL all now answer approximately AND gate exactly. */
  private def t59(spark: SparkSession, dir: String): DataFrame = {
    GraftExpressions.register(spark)
    val grams = Corpus.documents(spark, dir)
      .select(col("lang"),
        explode(expr("graft_ngrams(text, 13)")).as("gram"))
    graft.operators.Frequency.hllDistinct(grams, col("gram"), "lang", p = 8)
  }

  // Shared DuckDB mirror of the p=8 HLL register chain + estimate —
  // ONE SQL definition of Frequency.hllEstimate/HllRegisters, used by
  // the t59 and p10 oracles. `dCte` must expose ($group, it) with `it`
  // the DISTINCT item string (register max is insertion-idempotent, so
  // distinct-or-not is equivalent; distinct is just cheaper to replay).
  // NULL items are filtered HERE to match the sketch's update contract
  // (HllSketch skips NULL inputs) — without the filter a NULL item
  // would form a NULL bucket group that miscounts vzero/zsum by one.
  private[queries] def hllChainSql(dCte: String, group: String): String =
    s"""rb AS (SELECT $group, mx % 256 AS bucket, mx // 256 AS w FROM (
       |         SELECT $group,
       |           ${mixSql(s"'hll:' || CAST((${mixSql("'hll:' || it")}) AS VARCHAR)")} AS mx
       |         FROM $dCte WHERE it IS NOT NULL)),
       |reg AS (SELECT $group, bucket,
       |          max(CASE WHEN w = 0 THEN 24 ELSE 24 - length(bin(w)) END) AS r
       |        FROM rb GROUP BY $group, bucket),
       |hagg AS (SELECT $group,
       |          sum(power(CAST(2 AS DOUBLE), -r)) + (256 - count(*)) AS zsum,
       |          CAST(256 - count(*) AS BIGINT) AS vzero
       |        FROM reg GROUP BY $group)""".stripMargin

  private[queries] val hllEstimateSql: String = {
    val alphaMM = java.lang.Double.toString(graft.operators.Frequency.hllAlphaMM(8))
    s"""CASE WHEN CAST($alphaMM AS DOUBLE) / zsum <= 640.0 AND vzero > 0
       |     THEN CAST(256 AS DOUBLE) * ln(CAST(256 AS DOUBLE) / vzero)
       |     ELSE CAST($alphaMM AS DOUBLE) / zsum END""".stripMargin
  }

  private val t59Sql =
    s"""WITH g AS (SELECT lang,
       |        unnest([array_to_string(sp[i : i + 12], ' ')
       |                for i in range(1, len(sp) - 12 + 1)]) AS gram
       |      FROM (SELECT lang, $toksSql AS sp FROM documents)
       |      WHERE len(sp) >= 13),
       |d AS (SELECT DISTINCT lang, gram AS it FROM g),
       |${hllChainSql("d", "lang")},
       |ex AS (SELECT lang, CAST(count(DISTINCT gram) AS BIGINT) AS exact_distinct
       |       FROM g GROUP BY lang),
       |est AS (SELECT a.lang, ex.exact_distinct, $hllEstimateSql AS hll_estimate
       |        FROM hagg a JOIN ex ON a.lang = ex.lang)
       |SELECT lang, hll_estimate, exact_distinct,
       |  abs(hll_estimate - exact_distinct) / exact_distinct AS rel_err
       |FROM est
       |ORDER BY lang""".stripMargin

  /** Per-lang token-count quantiles from a bottom-k hash sample
    * ([[graft.operators.Sampling.kmvQuantiles]]; Cohen & Kaplan PODC
    * 2007) — the QUANTILE member of the sketch family, made gateable by
    * a different route than Bloom/CMS/HLL: mergeable quantile sketches
    * (GK/KLL) retain merge-order-DEPENDENT item sets, so instead the
    * sample is bottom-k-by-remix — a pure set function of the corpus at
    * any partitioning — and the exact pass verifies every estimate's
    * true rank (the t52 propose/dispose discipline). Every sampled id,
    * every ⌈q·m⌉ pick, and every measured rank_err replays in SQL. */
  private def t60(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.kmvQuantiles(
      Corpus.documents(spark, dir)
        .withColumn("n_tokens", tokenCount(col("text")).cast("long")),
      "lang", "doc_id", col("n_tokens"), t60Qs, k = 128, seed = "kmv-r12")

  private val t60Qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)

  private val t60Sql = {
    // q literals CAST to DOUBLE so ⌈q·m⌉ is IEEE on both sides — decimal
    // q·m rounds differently exactly when the product lands on an integer
    val qRows = t60Qs.map(q => s"(CAST(${java.lang.Double.toString(q)} AS DOUBLE))")
      .mkString(", ")
    s"""WITH b AS (SELECT lang, doc_id,
       |             CAST(len($toksSql) AS DOUBLE) AS value FROM documents),
       |key AS (SELECT lang, doc_id, value,
       |          CAST(${mixSql("'kmv-r12:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE) AS _u
       |        FROM b),
       |s AS (SELECT lang, doc_id, value FROM (
       |        SELECT key.*, row_number() OVER (PARTITION BY lang
       |                        ORDER BY _u, doc_id) AS urk
       |        FROM key) ranked WHERE urk <= 128),
       |m AS (SELECT lang, CAST(count(*) AS BIGINT) AS msize FROM s GROUP BY 1),
       |o AS (SELECT s.lang, s.doc_id, s.value,
       |        row_number() OVER (PARTITION BY s.lang ORDER BY s.value, s.doc_id) AS vrk
       |      FROM s),
       |est AS (SELECT o.lang, qq.q, o.value AS est_value, o.doc_id AS est_id,
       |          CAST(o.vrk AS BIGINT) AS sample_rank, m.msize
       |        FROM o JOIN m USING (lang)
       |        JOIN (VALUES $qRows) qq(q)
       |          ON o.vrk = CAST(ceil(qq.q * m.msize) AS BIGINT)),
       |n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
       |r AS (SELECT e.lang, e.q, e.est_value, e.sample_rank, e.msize,
       |        CAST(sum(CASE WHEN b.value < e.est_value
       |                   OR (b.value = e.est_value AND b.doc_id <= e.est_id)
       |                 THEN 1 ELSE 0 END) AS BIGINT) AS true_rank
       |      FROM est e JOIN b ON b.lang = e.lang
       |      GROUP BY 1, 2, 3, 4, 5)
       |SELECT r.lang, r.q, r.est_value, r.sample_rank, r.msize, r.true_rank, n.n,
       |  abs(CAST(r.true_rank AS DOUBLE) / CAST(n.n AS DOUBLE) - r.q) AS rank_err
       |FROM r JOIN n USING (lang)
       |ORDER BY r.lang, r.q""".stripMargin
  }

  /** Per-lang Zipf rank-frequency fit (Zipf's law: freq ∝ rank^−s):
    * closed-form least squares of ln(freq) on ln(rank) over the top-100
    * ranks — the corpus-statistics model fit a tokenizer/mixture
    * designer reads before choosing vocab sizes and temperature
    * exponents. The ONLY corpus-scale step is the (lang, token)
    * frequency aggregation (partial map-side); ranking and the fit run
    * on the vocab-sized table, and the four Σ terms cross their final
    * aggregation through the decimal detour (ln magnitudes 0–20, far
    * above the grid), so slope and intercept are accumulation-order
    * independent and replay in SQL exactly. */
  private def t61(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.zipfFit(
      Corpus.documents(spark, dir)
        .select(col("lang"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("freq")),
      "lang", "freq", "token", topRanks = 100)

  private val t61Sql =
    s"""WITH w AS (SELECT lang, unnest($toksSql) AS token FROM documents),
       |f AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS freq FROM w GROUP BY 1, 2),
       |r AS (SELECT lang, ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
       |      FROM (SELECT f.*, row_number() OVER (PARTITION BY lang
       |                     ORDER BY freq DESC, token) AS rank FROM f)
       |      WHERE rank <= 100),
       |s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_ranks,
       |        ${Num.dsumSql("x")} AS sx, ${Num.dsumSql("y")} AS sy,
       |        ${Num.dsumSql("x * x")} AS sxx, ${Num.dsumSql("x * y")} AS sxy
       |      FROM r GROUP BY 1),
       |fit AS (SELECT lang, n_ranks,
       |          (n_ranks * sxy - sx * sy) / (n_ranks * sxx - sx * sx) AS zipf_slope,
       |          sx, sy
       |        FROM s)
       |SELECT lang, n_ranks, zipf_slope,
       |  (sy - zipf_slope * sx) / n_ranks AS zipf_intercept
       |FROM fit
       |ORDER BY lang""".stripMargin

  /** Per-lang bigram collocations by PMI with Dunning LLR
    * ([[graft.operators.Quality.pmiCollocations]]; Church & Hanks CL
    * 1990, Dunning CL 1993) — the phrase-mining sweep over adjacent
    * token pairs, margins and totals all read from one bigram explode.
    * Every count is exact, PMI/LLR are single double expressions per
    * candidate (identical trees both engines; ln bit-parity is the t61
    * precedent), and the top-15 ranking with (pmi desc, w1, w2)
    * tie-break replays in SQL. */
  private def t62(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.pmiCollocations(
      Corpus.documents(spark, dir), "lang", col("text"),
      minCount = 5, topN = 15)

  private val t62Sql = {
    // one cell's k·ln(observed/expected) — the cancellation-free LLR form
    // (see Quality.pmiCollocations: the Σ k·ln k expansion amplifies
    // single-ulp ln() engine differences past the compare grid)
    def term(k: String, r: String, c: String) =
      s"CASE WHEN $k > 0 THEN CAST($k AS DOUBLE) * " +
        s"ln(CAST(($k) * n AS DOUBLE) / CAST(($r) * ($c) AS DOUBLE)) " +
        "ELSE CAST(0 AS DOUBLE) END"
    s"""WITH d AS (SELECT lang, $toksSql AS sp FROM documents),
       |bg AS (SELECT lang, sp[j] AS w1, sp[j + 1] AS w2
       |       FROM (SELECT lang, sp, unnest(range(1, len(sp))) AS j
       |             FROM d WHERE len(sp) >= 2) x),
       |c AS (SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c12
       |      FROM bg GROUP BY 1, 2, 3 HAVING count(*) >= 5),
       |m1 AS (SELECT lang, w1, CAST(count(*) AS BIGINT) AS cm1 FROM bg GROUP BY 1, 2),
       |m2 AS (SELECT lang, w2, CAST(count(*) AS BIGINT) AS cm2 FROM bg GROUP BY 1, 2),
       |t AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY 1),
       |k AS (SELECT c.lang, c.w1, c.w2, c.c12, m1.cm1, m2.cm2, t.n,
       |        ln(CAST(c.c12 * t.n AS DOUBLE) / CAST(m1.cm1 * m2.cm2 AS DOUBLE)) AS pmi
       |      FROM c JOIN m1 USING (lang, w1) JOIN m2 USING (lang, w2)
       |      JOIN t USING (lang)),
       |s AS (SELECT lang, w1, w2, c12, pmi,
       |        CAST(2.0 AS DOUBLE) * (${term("c12", "cm1", "cm2")}
       |          + ${term("cm1 - c12", "cm1", "n - cm2")}
       |          + ${term("cm2 - c12", "n - cm1", "cm2")}
       |          + ${term("n - cm1 - cm2 + c12", "n - cm1", "n - cm2")}) AS llr
       |      FROM k),
       |r AS (SELECT s.*, row_number() OVER (PARTITION BY lang
       |               ORDER BY pmi DESC, w1, w2) AS rnk FROM s)
       |SELECT lang, w1, w2, c12, pmi, llr, CAST(rnk AS BIGINT) AS rnk
       |FROM r WHERE rnk <= 15
       |ORDER BY lang, rnk""".stripMargin
  }

  /** Interpolated Kneser-Ney bigram perplexity
    * ([[graft.operators.Quality.kneserNeyScore]]): per-language LM
    * trained on the even doc_ids, every odd doc scored against it —
    * the even/odd split manufactures real OOV pressure and
    * unseen-context backoffs so all three scoring branches gate. */
  private def t63(spark: SparkSession, dir: String): DataFrame = {
    val docs = Corpus.documents(spark, dir)
    graft.operators.Quality.kneserNeyScore(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      "lang", "doc_id", col("text"))
  }

  private val t63Sql = {
    // P_cont and the interpolated estimate, parenthesized EXACTLY as the
    // engine's expression tree (double ops are IEEE-identical only when
    // the operation order matches)
    val pcont = "(CAST(ct.n1p2 AS DOUBLE) / nt.ntypes)"
    val interp = "(greatest(CAST(COALESCE(b.c, 0) AS DOUBLE) - 0.75, 0.0) " +
      s"+ (0.75 * CAST(r.n1p1 AS DOUBLE)) * $pcont) / CAST(r.c1 AS DOUBLE)"
    s"""WITH d AS (SELECT doc_id, lang, $toksSql AS sp FROM documents),
       |tb AS (SELECT lang, sp[j] AS w1, sp[j + 1] AS w2
       |       FROM (SELECT lang, sp, unnest(range(1, len(sp))) AS j
       |             FROM d WHERE doc_id % 2 = 0 AND len(sp) >= 2) x),
       |c12 AS (SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c
       |        FROM tb GROUP BY 1, 2, 3),
       |r AS (SELECT lang, w1, CAST(sum(c) AS BIGINT) AS c1,
       |        CAST(count(*) AS BIGINT) AS n1p1 FROM c12 GROUP BY 1, 2),
       |ct AS (SELECT lang, w2, CAST(count(*) AS BIGINT) AS n1p2
       |       FROM c12 GROUP BY 1, 2),
       |nt AS (SELECT lang, CAST(count(*) AS BIGINT) AS ntypes
       |       FROM c12 GROUP BY 1),
       |hb AS (SELECT doc_id, lang, sp[j] AS w1, sp[j + 1] AS w2
       |       FROM (SELECT doc_id, lang, sp, unnest(range(1, len(sp))) AS j
       |             FROM d WHERE doc_id % 2 = 1 AND len(sp) >= 2) x),
       |sc AS (SELECT hb.lang, hb.doc_id,
       |         CASE WHEN ct.n1p2 IS NULL THEN CAST(NULL AS DOUBLE)
       |              WHEN r.c1 IS NULL THEN ln($pcont)
       |              ELSE ln($interp) END AS logp
       |       FROM hb
       |       LEFT JOIN nt ON nt.lang = hb.lang
       |       LEFT JOIN ct ON ct.lang = hb.lang AND ct.w2 = hb.w2
       |       LEFT JOIN r ON r.lang = hb.lang AND r.w1 = hb.w1
       |       LEFT JOIN c12 b ON b.lang = hb.lang AND b.w1 = hb.w1
       |                      AND b.w2 = hb.w2)
       |SELECT lang, doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(count(*) - count(logp) AS BIGINT) AS n_oov,
       |  ${Num.davgSql("logp")} AS mean_logp,
       |  exp(-(${Num.davgSql("logp")})) AS ppl
       |FROM sc GROUP BY 1, 2
       |ORDER BY lang, doc_id""".stripMargin
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, "TextRank:
    * Bringing Order into Texts", EMNLP 2004): PageRank over the
    * undirected adjacent-token co-occurrence graph, top-10 words per
    * language — the unsupervised keyword pass run before building
    * topic taxonomies or prompt seeds. Composes two gated pieces:
    * t62's bigram extraction shape and q34's
    * [[graft.operators.Graph.pageRank]] (per-language graphs ride ONE
    * PageRank run on "lang:word" composite nodes — languages cannot
    * leak mass into each other because no edge crosses a language).
    * The oracle replays the full 5-iteration chain via the shared
    * [[GraphSql.pageRankChainSql]] recipe and the same composite-node
    * split. Only the bigram extraction is corpus-scale; the graph is
    * vocab-sized. */
  private def t64(spark: SparkSession, dir: String): DataFrame = {
    // bigram construction as the codegen'd graft_bigram_pairs (r18 —
    // the graft_shingles lesson applied to the co-occurrence scan
    // stage). Bit-identical to the interpreted transform/struct chain;
    // under-2-token docs yield an empty array, which explode drops —
    // the same rows the old size(sp) >= 2 filter removed.
    graft.functions.GraftExpressions.register(spark)
    val pairs = Corpus.documents(spark, dir)
      .select(col("lang"),
        explode(expr("graft_bigram_pairs(text)")).as("b"))
      .filter(col("b.w1") =!= col("b.w2"))
      .select(
        least(concat(col("lang"), lit(":"), col("b.w1")),
          concat(col("lang"), lit(":"), col("b.w2"))).as("a"),
        greatest(concat(col("lang"), lit(":"), col("b.w1")),
          concat(col("lang"), lit(":"), col("b.w2"))).as("c"))
      .distinct()
    val edges = pairs.select(explode(array(
        struct(col("a").as("src"), col("c").as("dst")),
        struct(col("c").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
    val pr = graft.operators.Graph.pageRank(edges, iterations = 5, damping = 0.85)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("pagerank").desc, col("word"))
    pr
      .withColumn("lang", expr("substring(node, 1, locate(':', node) - 1)"))
      .withColumn("word", expr("substring(node, locate(':', node) + 1)"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("lang"), col("word"), col("pagerank"),
        col("rnk").cast("long").as("rnk"))
      .orderBy(col("lang"), col("rnk"))
  }

  private val t64Sql =
    s"""WITH d AS (SELECT lang, $toksSql AS sp FROM documents),
       |bg AS (SELECT lang, sp[j] AS w1, sp[j + 1] AS w2
       |       FROM (SELECT lang, sp, unnest(range(1, len(sp))) AS j
       |             FROM d WHERE len(sp) >= 2) x
       |       WHERE sp[j] <> sp[j + 1]),
       |pairs AS (SELECT DISTINCT
       |            least(lang || ':' || w1, lang || ':' || w2) AS a,
       |            greatest(lang || ':' || w1, lang || ':' || w2) AS c
       |          FROM bg),
       |e AS (SELECT a AS src, c AS dst FROM pairs
       |      UNION ALL SELECT c AS src, a AS dst FROM pairs),
       |${GraphSql.pageRankChainSql(iterations = 5, damping = 0.85)},
       |sp AS (SELECT substring(node, 1, strpos(node, ':') - 1) AS lang,
       |         substring(node, strpos(node, ':') + 1) AS word, pagerank
       |       FROM p5),
       |r AS (SELECT lang, word, pagerank,
       |        row_number() OVER (PARTITION BY lang
       |                           ORDER BY pagerank DESC, word) AS rnk
       |      FROM sp)
       |SELECT lang, word, pagerank, CAST(rnk AS BIGINT) AS rnk
       |FROM r WHERE rnk <= 10
       |ORDER BY lang, rnk""".stripMargin

  /** Good-Turing count-of-counts table
    * ([[graft.operators.Quality.goodTuring]]) over adjacent BIGRAMS
    * (the unit with real hapax pressure on this corpus — every single
    * word repeats far past the r ≤ 10 band): per-language N_r, Turing
    * estimates r* = (r+1)·N_{r+1}/N_r, and the unseen mass N_1/N —
    * exact integer counting plus one double division per cell,
    * replayed verbatim. */
  private def t65(spark: SparkSession, dir: String): DataFrame = {
    // bigram construction as the codegen'd graft_ngrams (r18 — the
    // graft_shingles lesson applied to the Good-Turing scan stage; the
    // interpreted transform/sequence/concat chain was the per-row cost).
    // Bit-identical: "w1 w2" strings over single-space tokens, empty
    // array under 2 tokens — which explode drops, exactly the rows the
    // old size(sp) >= 2 filter removed.
    graft.functions.GraftExpressions.register(spark)
    val docs = Corpus.documents(spark, dir)
      .withColumn("units", expr("graft_ngrams(text, 2)"))
    graft.operators.Quality.goodTuring(docs, "lang", col("units"), maxR = 10)
  }

  private val t65Sql =
    s"""WITH d AS (SELECT lang, $toksSql AS sp FROM documents),
       |w AS (SELECT lang, sp[j] || ' ' || sp[j + 1] AS w
       |      FROM (SELECT lang, sp, unnest(range(1, len(sp))) AS j
       |            FROM d WHERE len(sp) >= 2) x),
       |f AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS r FROM w GROUP BY 1, 2),
       |nr AS (SELECT lang, r, CAST(count(*) AS BIGINT) AS n_r FROM f GROUP BY 1, 2),
       |tot AS (SELECT lang, CAST(sum(r) AS BIGINT) AS n_tokens FROM f GROUP BY 1)
       |SELECT nr.lang, nr.r, nr.n_r,
       |  CAST(nr.r + 1 AS DOUBLE) * CAST(n2.n_r AS DOUBLE)
       |    / CAST(nr.n_r AS DOUBLE) AS r_star,
       |  tot.n_tokens,
       |  COALESCE((SELECT CAST(x.n_r AS DOUBLE) FROM nr x
       |            WHERE x.lang = nr.lang AND x.r = 1), 0.0)
       |    / CAST(tot.n_tokens AS DOUBLE) AS p_unseen
       |FROM nr
       |LEFT JOIN nr n2 ON n2.lang = nr.lang AND n2.r = nr.r + 1
       |JOIN tot ON tot.lang = nr.lang
       |WHERE nr.r <= 10
       |ORDER BY nr.lang, nr.r""".stripMargin

  /** PII scan + redaction ([[graft.operators.Cleaning.piiScan]]): the
    * privacy pass a training-data pipeline runs before export. The
    * fixture corpus carries no real PII, so the query PLANTS it with
    * exact string arithmetic both engines share — every 7th doc gets a
    * doc-id-derived email appended, every 11th a doc-id-derived
    * NNN-NNN-NNNN phone — then counts matches and masks, emails first.
    * The masked text is gated BYTE-EXACT (the t43 discipline), which
    * pins the regex dialect bet: both patterns live in the Java-regex ∩
    * RE2 common subset, and any divergence in match semantics surfaces
    * as a text hash mismatch, not a silent miscount. Scan shape: pure
    * per-row codegen'd regex work, zero shuffles — at 100 TB a masking
    * pass is scan-bound and this plan IS one scan. */
  private def t66(spark: SparkSession, dir: String): DataFrame = {
    val planted = Corpus.documents(spark, dir)
      .select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" or call 555-"),
              lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
              lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))).as("text"))
    graft.operators.Cleaning.piiScan(planted)
  }

  private val t66Sql = {
    import graft.operators.Cleaning.{EmailRe, PhoneRe}
    s"""WITH p AS (SELECT doc_id, text ||
       |    CASE WHEN doc_id % 7 = 0
       |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
       |         ELSE '' END ||
       |    CASE WHEN doc_id % 11 = 0
       |         THEN ' or call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
       |              || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
       |         ELSE '' END AS t
       |  FROM documents),
       |m1 AS (SELECT doc_id,
       |    CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_emails,
       |    regexp_replace(t, '$EmailRe', '<EMAIL>', 'g') AS t1
       |  FROM p)
       |SELECT doc_id, n_emails,
       |  CAST(len(regexp_extract_all(t1, '$PhoneRe')) AS BIGINT) AS n_phones,
       |  regexp_replace(t1, '$PhoneRe', '<PHONE>', 'g') AS masked
       |FROM m1 ORDER BY doc_id""".stripMargin
  }

  /** Asymmetric containment dedup
    * ([[graft.operators.Dedup.containmentPairs]]; Broder SEQUENCES'97
    * §2): finds documents swallowed whole by larger ones — the
    * quoted-post/boilerplate-wrapper class every resemblance (Jaccard)
    * threshold misses because j ≈ |A|/|B| for a small doc inside a big
    * one. The fixture corpus has no containment pairs, so the query
    * PLANTS them with exact string arithmetic both engines share: every
    * 13th doc gets a wrapper sibling (id + 3,000,000) whose text is the
    * original followed by its successor doc's text — contained doc's
    * shingles ⊂ wrapper's by construction, Jaccard ≈ sza/szb. The
    * oracle replays the rare-shingle blocking (df ∈ [2, 8] — the bet is
    * gated, not hidden) and every count/ratio; the gate shows pairs
    * passing at containment ≥ 0.9 whose Jaccard sits far below the 0.8
    * dedup threshold — the asymmetry as data. */
  private def t67(spark: SparkSession, dir: String): DataFrame = {
    val docs = Corpus.documents(spark, dir).select(col("doc_id"), col("text"))
    val wrapped = docs.filter(col("doc_id") % 13 === 0)
      .join(docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("_t2")),
        Seq("doc_id"))
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat(col("text"), lit(" "), col("_t2")).as("text"))
    graft.operators.Dedup.containmentPairs(docs.unionByName(wrapped),
      shingleSize = 3, maxDf = 8, minContainment = 0.9)
  }

  private val t67Sql =
    s"""WITH wrap AS (
       |  SELECT d1.doc_id + 3000000 AS doc_id, d1.text || ' ' || d2.text AS text
       |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
       |  WHERE d1.doc_id % 13 = 0),
       |corpus AS (SELECT doc_id, text FROM documents
       |           UNION ALL SELECT doc_id, text FROM wrap),
       |shc AS (
       |  SELECT doc_id, list_distinct([sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]
       |                                for i in range(1, len(sp) - 1)]) AS s
       |  FROM (SELECT doc_id, $toksSql AS sp FROM corpus)
       |  WHERE len(sp) >= 3),
       |ex AS (SELECT doc_id, len(s) AS sz, unnest(s) AS sh FROM shc),
       |rare AS (SELECT sh FROM ex GROUP BY sh
       |         HAVING count(*) BETWEEN 2 AND 8),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM ex x JOIN rare r ON r.sh = x.sh
       |         JOIN ex y ON y.sh = x.sh AND x.doc_id < y.doc_id)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(len(a.s) AS BIGINT) AS sza, CAST(len(b.s) AS BIGINT) AS szb,
       |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
       |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS cont_a_in_b,
       |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s) AS cont_b_in_a,
       |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
       |FROM cand c
       |JOIN shc a ON a.doc_id = c.doc_a
       |JOIN shc b ON b.doc_id = c.doc_b
       |WHERE greatest(
       |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s),
       |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s)) >= 0.9
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Character-level Shannon entropy per document
    * ([[graft.operators.Quality.charEntropy]]) — the compression-proxy
    * quality heuristic (low = template spam, high = binary junk,
    * prose in between). The per-doc sum is an ordered left fold over
    * the char-sorted term list (`aggregate` / DuckDB `list_sum`, the
    * v01 bit-identical-fold discipline) — NO decimal detour, so
    * dominated alphabets' near-zero terms survive exactly. */
  private def t68(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.charEntropy(Corpus.documents(spark, dir))

  private val t68Sql = {
    val ln2 = java.lang.Double.toString(math.log(2.0))
    s"""WITH chs AS (
       |  SELECT doc_id, substring(text, i, 1) AS ch
       |  FROM (SELECT doc_id, text FROM documents WHERE len(text) > 0) d,
       |       LATERAL (SELECT unnest(range(1, len(text) + 1)) AS i) ii),
       |c AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS cnt
       |      FROM chs GROUP BY 1, 2),
       |a AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars,
       |        CAST(count(*) AS BIGINT) AS n_distinct,
       |        list(cnt ORDER BY ch) AS lst
       |      FROM c GROUP BY 1),
       |e AS (SELECT doc_id, n_chars, n_distinct,
       |        list_sum(list_transform(lst, c ->
       |          -(CAST(c AS DOUBLE) / CAST(n_chars AS DOUBLE))
       |            * ln(CAST(c AS DOUBLE) / CAST(n_chars AS DOUBLE)))) AS entropy
       |      FROM a)
       |SELECT doc_id, n_chars, n_distinct, entropy,
       |  entropy / CAST($ln2 AS DOUBLE) AS bits_per_char
       |FROM e ORDER BY doc_id""".stripMargin
  }

  /** Per-document 3-gram novelty ([[graft.operators.Quality.novelGramRate]];
    * Lee et al. ACL 2022's cross-document n-gram lens as a per-doc
    * score): the fraction of a doc's distinct word 3-grams appearing in
    * no other document — low = boilerplate/near-dup residue (an
    * independent audit of what the t05–t09 miners should have caught),
    * high = unique content. Engine counts over xxhash64'd grams (the
    * t23 wire discipline); the oracle re-counts over the RAW gram
    * strings, so a hash collision would surface as a count mismatch. */
  private def t69(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.novelGramRate(Corpus.documents(spark, dir), n = 3)

  private val t69Sql =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    list_distinct([array_to_string(sp[i : i + 2], ' ')
       |                   for i in range(1, len(sp) - 3 + 2)]) AS gs
       |  FROM (SELECT doc_id, $toksSql AS sp FROM documents)
       |  WHERE len(sp) >= 3),
       |g AS (SELECT doc_id, unnest(gs) AS gram FROM d),
       |f AS (SELECT gram, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1)
       |SELECT g.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS novel_frac
       |FROM g JOIN f USING (gram)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Blocklist scan ([[graft.operators.Quality.blocklistScan]]; Aho &
    * Corasick CACM 1975, the C4-style badlist filter): distinct-pattern
    * hit count + earliest match position per doc, over a pattern set
    * with deliberate nesting — `art` ⊂ `part`, `low` ⊂ `slow` — so the
    * automaton's dictionary-suffix reporting is gated as data (an
    * implementation without output links misses the embedded pattern
    * and the count mismatches), plus a never-hits pattern exercising
    * the clean path. Oracle: per-pattern `contains`/`strpos` — the
    * naive P-pass form the one-pass automaton replaces. */
  private def t70(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.blocklistScan(Corpus.documents(spark, dir),
      BlockPatterns)

  private val BlockPatterns = Seq(
    "slow fast", "table part", "art", "part", "low", "spark a",
    "zzz quux", "agg row")

  private val t70Sql = {
    val lst = BlockPatterns.map(p => s"'$p'").mkString("[", ", ", "]")
    s"""SELECT doc_id,
       |  CAST(len(list_filter($lst, p -> contains(text, p))) AS BIGINT)
       |    AS n_hit_patterns,
       |  CAST(coalesce(list_min(list_filter(
       |         list_transform($lst, p -> strpos(text, p)), x -> x > 0)), -1)
       |       AS BIGINT) AS first_hit_pos,
       |  len(list_filter($lst, p -> contains(text, p))) > 0 AS flagged
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** RAKE keyword extraction ([[graft.operators.Quality.rakeKeywords]];
    * Rose et al. 2010): top-3 phrases per document scored
    * deg(w)/freq(w) over stopword-delimited candidate runs — the
    * corpus-free keyword pass (t64's TextRank is the graph sibling;
    * RAKE needs zero cross-document state). The oracle replays the
    * whole chain — running stopword-count phrase split, per-occurrence
    * word degrees, decimal-detour phrase sums, the (score, phrase)
    * tie-break — so the phrase segmentation itself is hash-gated. */
  private def t71(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.rakeKeywords(Corpus.documents(spark, dir),
      TextFunctions.StopwordList, topK = 3)

  private val t71Sql = {
    val stops = TextFunctions.StopwordList.map(s => s"'$s'").mkString(", ")
    s"""WITH d AS (SELECT doc_id, $toksSql AS sp FROM documents),
       |tk AS (SELECT doc_id, j, sp[j] AS tok,
       |         sp[j] IN ($stops) AS is_stop
       |       FROM (SELECT doc_id, sp, unnest(range(1, len(sp) + 1)) AS j
       |             FROM d) x),
       |g AS (SELECT doc_id, j, tok, is_stop,
       |        sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
       |          OVER (PARTITION BY doc_id ORDER BY j) AS grp
       |      FROM tk),
       |occ AS (SELECT doc_id, grp, j, tok FROM g WHERE NOT is_stop),
       |runs AS (SELECT doc_id, grp, string_agg(tok, ' ' ORDER BY j) AS phrase,
       |           CAST(count(*) AS BIGINT) AS n_words
       |         FROM occ GROUP BY 1, 2),
       |ws AS (SELECT o.doc_id, o.tok,
       |         CAST(sum(r.n_words) AS DOUBLE) / count(*) AS wscore
       |       FROM occ o JOIN runs r USING (doc_id, grp)
       |       GROUP BY 1, 2),
       |psc AS (SELECT o.doc_id, o.grp, ${Num.dsumSql("ws.wscore")} AS score
       |        FROM occ o JOIN ws ON ws.doc_id = o.doc_id AND ws.tok = o.tok
       |        GROUP BY 1, 2),
       |dp AS (SELECT DISTINCT r.doc_id, r.phrase, r.n_words, p.score
       |       FROM runs r JOIN psc p ON p.doc_id = r.doc_id AND p.grp = r.grp),
       |rk AS (SELECT doc_id, phrase, n_words, score,
       |         row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY score DESC, phrase) AS rnk
       |       FROM dp)
       |SELECT doc_id, phrase, n_words, score, CAST(rnk AS BIGINT) AS rnk
       |FROM rk WHERE rnk <= 3
       |ORDER BY doc_id, rnk""".stripMargin
  }

  /** Heaps'-law vocabulary growth ([[graft.operators.Quality.heapsFit]];
    * Heaps 1978/Herdan 1960) per language: V(N) ≈ K·N^β over 10
    * id-span checkpoints — t61's Zipf fit reads the frequency SPECTRUM,
    * this reads the growth CURVE (the two classic corpus laws, one
    * diagnostic pair: together they say whether more crawl still buys
    * vocabulary). The oracle replays the checkpoint cutoff arithmetic
    * (shared double-division floor), both prefix aggregations, and the
    * closed-form log-log regression. */
  private def t72(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.heapsFit(
      Corpus.documents(spark, dir), "lang", tokens(col("text")),
      checkpoints = 10)

  private val t72Sql =
    s"""WITH d AS (SELECT lang, doc_id, $toksSql AS sp FROM documents),
       |tok AS (SELECT lang, doc_id AS _id, unnest(sp) AS w FROM d),
       |fs AS (SELECT lang, w, min(_id) AS _first FROM tok GROUP BY 1, 2),
       |dl AS (SELECT lang, _id, CAST(count(*) AS BIGINT) AS _n
       |       FROM tok GROUP BY 1, 2),
       |sp2 AS (SELECT lang, min(_id) AS _lo, max(_id) AS _hi FROM dl GROUP BY 1),
       |cu AS (SELECT lang, ck.ckpt,
       |         CAST(_lo + floor((_hi - _lo) * ck.ckpt / 10) AS BIGINT) AS cutoff_id
       |       FROM sp2, LATERAL (SELECT unnest(range(1, 11)) AS ckpt) ck),
       |v AS (SELECT c.lang, c.ckpt, c.cutoff_id, CAST(count(*) AS BIGINT) AS v_words
       |      FROM cu c JOIN fs ON fs.lang = c.lang AND fs._first <= c.cutoff_id
       |      GROUP BY 1, 2, 3),
       |n AS (SELECT c.lang, c.ckpt, CAST(sum(dl._n) AS BIGINT) AS n_tokens
       |      FROM cu c JOIN dl ON dl.lang = c.lang AND dl._id <= c.cutoff_id
       |      GROUP BY 1, 2),
       |pts AS (SELECT v.lang, v.ckpt, v.cutoff_id, n.n_tokens, v.v_words,
       |          ln(CAST(n.n_tokens AS DOUBLE)) AS x,
       |          ln(CAST(v.v_words AS DOUBLE)) AS y
       |        FROM v JOIN n ON n.lang = v.lang AND n.ckpt = v.ckpt),
       |f AS (SELECT lang, CAST(count(*) AS BIGINT) AS k,
       |        ${Num.dsumSql("x")} AS sx, ${Num.dsumSql("y")} AS sy,
       |        ${Num.dsumSql("x * x")} AS sxx, ${Num.dsumSql("x * y")} AS sxy
       |      FROM pts GROUP BY 1),
       |ft AS (SELECT lang,
       |         (k * sxy - sx * sy) / (k * sxx - sx * sx) AS heaps_beta,
       |         k, sx, sy
       |       FROM f),
       |ft2 AS (SELECT lang, heaps_beta,
       |          (sy - heaps_beta * sx) / k AS heaps_logk
       |        FROM ft)
       |SELECT pts.lang, pts.ckpt, pts.cutoff_id, pts.n_tokens, pts.v_words,
       |  ft2.heaps_beta, ft2.heaps_logk
       |FROM pts JOIN ft2 ON ft2.lang = pts.lang
       |ORDER BY pts.lang, pts.ckpt""".stripMargin

  /** MinHash-LSH S-curve ([[graft.operators.Dedup.minhashSCurve]];
    * Broder '97, MMDS ch. 3): the empirical band-collision rate vs the
    * theoretical 1 − (1 − j^4)^4, measured on planted pairs whose
    * perturbation rate sweeps the Jaccard axis — the tuning table
    * behind t07's band bet (m13 did this for video bands, v22 for IVF
    * probes; this closes the loop for the text dedup family). Every
    * third doc gets a copy with every k-th token replaced
    * (k ∈ {3, 6, 12, 48} by doc id — base keeps doc_id % 3 == 0, so
    * doc_id % 12 ranges over {0, 3, 6, 9} and the two branches land on
    * a fine pair and a coarse pair, populating the buckets from
    * j ≈ 0.5 to ≈ 0.96); detection is
    * direct signature-slice agreement, the exact event the LSH band
    * join keys on. The oracle replays the perturbation, every
    * portable-fold minimum, every band verdict, and the
    * multiplication-only theoretical column. */
  private def t73(spark: SparkSession, dir: String): DataFrame = {
    val OFF = 10000000L
    val base = Corpus.documents(spark, dir)
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
    val k = when(col("doc_id") % 12 < 6, col("doc_id") % 12 + 3)
      .otherwise((col("doc_id") % 12 - 5) * 12)
    // two-step: perturb against the INPUT doc_id, THEN shift the id —
    // aliasing `doc_id + OFF` in the same select would capture the
    // lateral alias inside the lambda (col("doc_id") resolves to the
    // shifted value: wrong noise tokens AND a wrong k — found when the
    // oracle's bucket table diverged)
    val pert = base.select(
      col("doc_id"),
      array_join(transform(tokens(col("text")), (t, i) =>
        when(i % k === 0,
          concat(lit("x"), col("doc_id").cast("string"), lit("_"),
            (i + 1).cast("string")))
          .otherwise(t)), " ").as("text"))
      .select((col("doc_id") + OFF).as("doc_id"), col("text"))
    graft.operators.Dedup.minhashSCurve(base.unionByName(pert), OFF,
      shingleSize = 3, rowsPerBand = 4, bands = 4)
  }

  private val t73Sql = {
    val (as, bs) = graft.operators.Dedup.sCurveHashConsts(16)
    val aa = as.mkString("[", ", ", "]")
    val bb = bs.mkString("[", ", ", "]")
    val mh = s"(${foldSql("s2")} * aa[h + 1] + bb[h + 1]) % 2147483647"
    s"""WITH consts AS (SELECT $aa AS aa, $bb AS bb),
       |base AS (SELECT doc_id, $toksSql AS sp FROM documents
       |              WHERE doc_id % 3 = 0),
       |pk AS (SELECT doc_id, sp,
       |         CASE WHEN doc_id % 12 < 6 THEN doc_id % 12 + 3
       |              ELSE (doc_id % 12 - 5) * 12 END AS k
       |       FROM base),
       |pert AS (SELECT doc_id,
       |           [CASE WHEN (i - 1) % k = 0
       |                 THEN 'x' || CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR)
       |                 ELSE sp[i] END
       |            for i in range(1, len(sp) + 1)] AS sp
       |         FROM pk),
       |sha AS (SELECT doc_id,
       |          list_distinct([array_to_string(sp[i : i + 2], ' ')
       |                         for i in range(1, len(sp) - 3 + 2)]) AS s
       |        FROM base WHERE len(sp) >= 3),
       |shb AS (SELECT doc_id,
       |          list_distinct([array_to_string(sp[i : i + 2], ' ')
       |                         for i in range(1, len(sp) - 3 + 2)]) AS s
       |        FROM pert WHERE len(sp) >= 3),
       |siga AS (SELECT doc_id, s,
       |           [list_min([$mh for s2 in s]) for h in range(0, 16)] AS g
       |         FROM sha CROSS JOIN consts),
       |sigb AS (SELECT doc_id, s,
       |           [list_min([$mh for s2 in s]) for h in range(0, 16)] AS g
       |         FROM shb CROSS JOIN consts),
       |p AS (SELECT a.doc_id, a.s AS sa, b.s AS sb, a.g AS ga, b.g AS gb
       |      FROM siga a JOIN sigb b ON b.doc_id = a.doc_id),
       |sc AS (SELECT doc_id,
       |         CAST(len(list_intersect(sa, sb)) AS DOUBLE)
       |           / (len(sa) + len(sb) - len(list_intersect(sa, sb))) AS j,
       |         len([b for b in range(0, 4)
       |              if ga[b*4+1 : b*4+4] = gb[b*4+1 : b*4+4]]) > 0 AS detected
       |       FROM p),
       |sc2 AS (SELECT *, j * j * j * j AS jr FROM sc),
       |sc3 AS (SELECT *,
       |          1.0 - (1.0 - jr) * (1.0 - jr) * (1.0 - jr) * (1.0 - jr) AS theo,
       |          least(9, CAST(floor(j * 10) AS BIGINT)) AS j_bucket
       |        FROM sc2)
       |SELECT j_bucket, COUNT(*) AS n_pairs,
       |  CAST(sum(CASE WHEN detected THEN 1 ELSE 0 END) AS BIGINT) AS n_detected,
       |  CAST(sum(CASE WHEN detected THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
       |    AS empirical_rate,
       |  ${Num.davgSql("theo")} AS mean_theoretical
       |FROM sc3 GROUP BY 1 ORDER BY j_bucket""".stripMargin
  }

  /** Consistent pseudonymization (deterministic tokenization — the
    * privacy-pipeline sibling of t11's redaction): every linkable
    * identifier is replaced by a surrogate derived from the match's own
    * portable fold, so the SAME email in any document maps to the SAME
    * surrogate and cross-document link structure survives
    * de-identification (t11's type tags collapse it). Fixture: each doc
    * gains an email SHARED by all docs with the same `doc_id % 50`
    * (consistency across documents is the property under test) plus a
    * per-doc phone. n_pii counts matches; the surrogate arithmetic and
    * the interleaved reassembly are hash-gated character for character.
    * Scale: a pure per-row string function inside whole-stage codegen —
    * no lookup table, no shuffle, no state; the one operator in the
    * privacy family that is embarrassingly parallel at 100 TB. */
  private def t74(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExpressions.register(spark)
    val dirty = concat(col("text"),
      lit(" contact user"), pmod(col("doc_id"), lit(50)).cast("string"),
      lit("@example.com or 555-01"), col("doc_id").cast("string"))
    Corpus.documents(spark, dir)
      .withColumn("dirty", dirty)
      .select(
        col("doc_id"),
        expr("graft_pseudonymize(dirty)").as("clean_text"),
        size(expr(
          s"regexp_extract_all(dirty, '${graft.functions.TextFunctions.PseudonymizePattern}', 0)"))
          .cast("long").as("n_pii"))
      .orderBy(col("doc_id"))
  }

  private val t74Sql = {
    val pat = graft.functions.TextFunctions.PseudonymizePattern
    // interleaved reassembly: segments (split on the pattern) alternate
    // with per-match surrogates; DuckDB's leftmost-first RE2 semantics
    // match Java's for this pattern (explicit classes, one alternation)
    val sur = s"""CASE WHEN contains(ms[i], '@')
       |         THEN 'user' || CAST((${foldSql("ms[i]")}) AS VARCHAR) || '@redacted.example'
       |         ELSE '555-' || CAST((${foldSql("ms[i]")}) AS VARCHAR) END""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id % 50 AS VARCHAR)
       |         || '@example.com or 555-01' || CAST(doc_id AS VARCHAR) AS dirty
       |  FROM documents),
       |parts AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(dirty, '$pat') AS segs,
       |    regexp_extract_all(dirty, '$pat') AS ms
       |  FROM d)
       |SELECT doc_id,
       |  array_to_string(
       |    [segs[i] || CASE WHEN i <= len(ms) THEN $sur ELSE '' END
       |     for i in range(1, len(segs) + 1)], '') AS clean_text,
       |  CAST(len(ms) AS BIGINT) AS n_pii
       |FROM parts
       |ORDER BY doc_id""".stripMargin
  }

  /** Robust per-language quality outliers: exact median + MAD of the
    * t02 quality score per lang, flag `|q − med| > 3·MAD` — the robust
    * cut heavy-tailed web-corpus score distributions need (mean/stddev
    * are dragged by the tail they're supposed to catch). The engine
    * side computes BOTH exact medians by histogram refinement
    * ([[graft.operators.Quality.groupMedianMad]] — no per-group sort,
    * no single-task window; the classic few-huge-groups trap a
    * `Window.partitionBy(lang)` median would step into at 100 TB);
    * the oracle replays them with a full rank, pinning every med, mad,
    * and flag bit-for-bit. */
  private def t75(spark: SparkSession, dir: String): DataFrame = {
    // localCheckpoint (eager): groupMedianMad scans its input ~5×
    // (two histogram passes, two candidate refinements, the output
    // join) — each scan would re-tokenize every document; the
    // checkpointed frame is 3 narrow columns (measured at 100×:
    // 21.9 s → the tokenize-once form)
    val sig = docSignals(Corpus.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("quality"))
      .localCheckpoint()
    graft.operators.Quality.groupMedianMad(sig, "lang", "quality")
      .select(col("doc_id"), col("lang"), col("quality"),
        col("med"), col("mad"), col("is_outlier"))
      .orderBy(col("doc_id"))
  }

  private val t75Sql =
    s"""WITH s AS (SELECT doc_id, lang, $qualitySql AS q
       |           FROM ($docSignalsSql) WHERE n_tokens > 0),
       |n AS (SELECT lang, COUNT(*) AS n FROM s GROUP BY lang),
       |r AS (SELECT s.*, row_number() OVER (PARTITION BY lang ORDER BY q, doc_id) AS rn FROM s),
       |med AS (SELECT r.lang,
       |          (max(CASE WHEN rn = (n+1)//2 THEN q END)
       |           + max(CASE WHEN rn = (n+2)//2 THEN q END)) / 2 AS med
       |        FROM r JOIN n USING (lang) GROUP BY r.lang),
       |d AS (SELECT s.doc_id, s.lang, s.q, med.med, abs(s.q - med.med) AS dev
       |      FROM s JOIN med USING (lang)),
       |rd AS (SELECT d.*, row_number() OVER (PARTITION BY lang ORDER BY dev, doc_id) AS rn FROM d),
       |mad AS (SELECT rd.lang,
       |          (max(CASE WHEN rn = (n+1)//2 THEN dev END)
       |           + max(CASE WHEN rn = (n+2)//2 THEN dev END)) / 2 AS mad
       |        FROM rd JOIN n USING (lang) GROUP BY rd.lang)
       |SELECT d.doc_id, d.lang, d.q AS quality, d.med, mad.mad,
       |  (d.dev > 3.0 * mad.mad) AS is_outlier
       |FROM d JOIN mad USING (lang)
       |ORDER BY d.doc_id""".stripMargin

  /** Rocchio-style pseudo-relevance feedback (Rocchio 1971; the RM3
    * recipe's term-based core): run the BM25 query, take the top-5
    * ranking as pseudo-relevant, expand the query with their 3 most
    * frequent non-query non-stopword terms, re-run BM25 with the
    * expanded term set — the retrieval feedback loop hard-negative
    * mining and retrieval-curation pipelines add on top of plain BM25
    * (t31). Deterministic end to end: both rankings are total orders
    * (bm25 desc, doc_id), term selection ties break (weight desc, term
    * asc). The expansion set is a BOUNDED collect (3 strings — the
    * broadcast-literal contract the vector query sets follow), which
    * is what lets the second pass keep t31's substring prefilter
    * pushdown. Scale: two scans of the corpus (initial + expanded
    * scoring) plus a 5-doc term count — the feedback pass costs one
    * extra retrieval, never a per-doc loop. */
  private def t76(spark: SparkSession, dir: String): DataFrame = {
    val docs = Corpus.documents(spark, dir)
    val top5 = bm25Scores(spark, dir)
      .orderBy(desc("bm25"), col("doc_id")).limit(5).select("doc_id")
    val expansion = docs.join(top5, "doc_id")
      .select(explode(tokens(col("text"))).as("term"))
      .filter(!col("term").isin(Bm25Query: _*))
      .filter(!col("term").isin(TextFunctions.StopwordList: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("w"))
      .orderBy(desc("w"), col("term")).limit(3)
      .collect().map(_.getString(0)).toSeq
    bm25ScoresFor(spark, dir, Bm25Query ++ expansion)
      .orderBy(desc("bm25"), col("doc_id"))
      .limit(20)
  }

  private val t76Sql = {
    val stopList = TextFunctions.StopwordList.map(s => s"'$s'").mkString(", ")
    s"""WITH $bm25CoreSql,
       |base AS (SELECT doc_id FROM (
       |    SELECT doc_id, ${Num.dsumSql("contrib")} AS bm25 FROM sc GROUP BY doc_id
       |    ORDER BY bm25 DESC, doc_id LIMIT 5)),
       |exp AS (SELECT term FROM (
       |    SELECT term, COUNT(*) AS w
       |    FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents) u
       |    JOIN base USING (doc_id)
       |    WHERE term NOT IN ($bm25QueryTermsSql) AND term NOT IN ($stopList)
       |    GROUP BY term ORDER BY w DESC, term LIMIT 3)),
       |${bm25CoreSqlFor("2", s"term IN ($bm25QueryTermsSql) OR term IN (SELECT term FROM exp)")}
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
       |  ${Num.dsumSql("contrib")} AS bm25
       |FROM sc2 GROUP BY doc_id
       |ORDER BY bm25 DESC, doc_id
       |LIMIT 20""".stripMargin
  }

  /** Fuzzy eval-set decontamination (VERDICT r16 #6 — the Dolma/
    * FineWeb decontamination recipe): t26/t57 catch VERBATIM 13-gram
    * leaks; this catches PARAPHRASED benchmark leakage by cross-corpus
    * MinHash-LSH ([[graft.operators.Dedup.crossCorpusNearDups]] — the
    * t07 band machinery across two corpora, benchmark band keys
    * broadcast, no cartesian anywhere). Fixture benchmark: every 37th
    * doc paraphrased (every 45th token replaced by a sentinel — shingle
    * Jaccard 0.88–1.0 against its source, below exact-dup but above
    * threshold) plus every 41st doc token-REVERSED (Jaccard ≈ 0
    * negatives that must NOT appear — reversal destroys every shingle).
    * Output rows are genuine fuzzy catches: (train_doc, eval_doc,
    * jaccard). Oracle: brute-force cross-corpus Jaccard of the same
    * deterministic fixture — EXACT, while the engine is LSH, so the
    * gate's agreement rests on every qualifying pair sitting past the
    * S-curve knee: at the 0.85 threshold the 16×4 scheme's miss
    * probability is ≤ (1−0.85⁴)¹⁶ ≈ 7·10⁻⁶ per pair (residual
    * suite-wide tail < 10⁻³), versus ~2·10⁻⁴ per borderline pair had
    * it run at 0.80 — the threshold/band pairing is chosen so the
    * probabilistic engine and the exact oracle cannot drift apart
    * under corpus growth (r17 self-review finding). Scale: train side shuffles only 8-byte
    * band keys; benchmark side is small by definition and broadcasts
    * through candidate generation AND verification. */
  private def t77(spark: SparkSession, dir: String): DataFrame = {
    val docs = Corpus.documents(spark, dir)
    val toks = tokens(col("text"))
    val para = docs.filter(col("doc_id") % 37 === 0)
      .withColumn("text", concat_ws(" ",
        transform(toks, (t, i) =>
          when((i + 1) % 45 === 0, lit("xyzzy")).otherwise(t))))
    val rev = docs.filter(col("doc_id") % 41 === 0 && col("doc_id") % 37 =!= 0)
      .withColumn("text", concat_ws(" ", reverse(toks)))
    Dedup.crossCorpusNearDups(docs, para.unionByName(rev).select("doc_id", "text"),
      threshold = 0.85)
  }

  private val t77Sql =
    s"""WITH ev AS (
       |  SELECT doc_id, list_transform(range(1, len(sp) + 1),
       |      i -> CASE WHEN i % 45 = 0 THEN 'xyzzy' ELSE sp[CAST(i AS INT)] END) AS sp
       |  FROM (SELECT doc_id, $toksSql AS sp FROM documents WHERE doc_id % 37 = 0)
       |  UNION ALL
       |  SELECT doc_id, list_reverse(sp) AS sp
       |  FROM (SELECT doc_id, $toksSql AS sp FROM documents
       |        WHERE doc_id % 41 = 0 AND doc_id % 37 <> 0)),
       |she AS (
       |  SELECT doc_id, list_distinct([sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]
       |                                for i in range(1, len(sp) - 1)]) AS s
       |  FROM ev WHERE len(sp) >= 3),
       |sht AS (
       |  SELECT doc_id, list_distinct([sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]
       |                                for i in range(1, len(sp) - 1)]) AS s
       |  FROM (SELECT doc_id, $toksSql AS sp FROM documents)
       |  WHERE len(sp) >= 3)
       |SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc,
       |  CAST(len(list_intersect(t.s, e.s)) AS DOUBLE) / len(list_distinct(t.s || e.s)) AS jaccard
       |FROM sht t JOIN she e ON
       |  CAST(len(list_intersect(t.s, e.s)) AS DOUBLE) / len(list_distinct(t.s || e.s)) >= 0.85
       |ORDER BY train_doc, eval_doc""".stripMargin

  // t78's URL fixture: host = <pre> + org<doc_id%7> + <post>, cycling
  // ten shapes that exercise every interesting suffix case — deep
  // subdomains, multi-label country suffixes, a private-registry entry
  // (github.io), an unknown TLD (the PSL default rule). ONE definition
  // feeds both the Spark fixture and the oracle's replay.
  private val t78HostShapes: Seq[(String, String)] = Seq(
    ("www.", ".com"), ("news.", ".co.uk"), ("cdn.assets.", ".com"),
    ("", ".org"), ("blog.", ".github.io"), ("data.", ".com.au"),
    ("", ".ai"), ("media.sub.", ".org.uk"), ("", ".unknowntld"),
    ("files.archive.", ".net"))

  /** Registered-domain mixture report (VERDICT r16 #7): per PAY-LEVEL
    * domain doc counts, token totals, and corpus token share — the
    * URL-level statistic the t19/t36 mixture samplers consume, computed
    * with public-suffix-aware extraction
    * ([[graft.functions.TextFunctions.registeredDomain]], a codegen'd
    * expression) instead of raw-field grouping: `cdn.assets.orgN.com`
    * and `www.orgN.com` group together while `orgN.github.io` stays a
    * distinct registrant. Oracle: DuckDB replays the host extraction
    * and the longest-suffix match with the SAME suffix table inlined
    * as per-suffix regex literals (priority order preserved), then the
    * identical share arithmetic. Scale: extraction is a pure per-row
    * function at scan speed; the report aggregates to ≤ |orgs| ×
    * |suffixes| rows, and the share window runs on that aggregated
    * frame, not the corpus. */
  private def t78(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExpressions.register(spark)
    val idx = (col("doc_id") % 10 + 1).cast("int")
    val pres = array(t78HostShapes.map(s => lit(s._1)): _*)
    val posts = array(t78HostShapes.map(s => lit(s._2)): _*)
    val url = concat(lit("https://"), element_at(pres, idx),
      lit("org"), (col("doc_id") % 7).cast("string"), element_at(posts, idx),
      lit("/doc/"), col("doc_id").cast("string"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    Corpus.documents(spark, dir)
      .withColumn("url", url)
      .select(expr("graft_registered_domain(url)").as("domain"),
        size(tokens(col("text"))).cast("long").as("ntok"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("tokens"))
      // the share window runs over the aggregated (≤ 70-row) frame
      .withColumn("token_share",
        col("tokens").cast("double") / sum(col("tokens")).over(w).cast("double"))
      .orderBy(col("domain"))
  }

  private val t78Sql = {
    val pres = t78HostShapes.map(s => s"'${s._1}'").mkString("[", ", ", "]")
    val posts = t78HostShapes.map(s => s"'${s._2}'").mkString("[", ", ", "]")
    // the longest-suffix match as a CASE chain in the SAME priority
    // order the engine matches (labels desc, length desc,
    // lexicographic), including the bare-suffix → NULL rule (a host
    // EQUAL to a public suffix is not a registration; without the
    // equality arm the chain would fall through to a shorter suffix
    // and extract e.g. 'github.io' as a domain — r17 self-review).
    // Known caveat vs the expression: pathological empty-label hosts
    // ('.github.io') return null engine-side mid-loop but fall
    // through here; no fixture or realistic URL produces them. The
    // ELSE arm is NULLIF-guarded (ADVICE r17): for a host the engine
    // maps to null (e.g. dotless), DuckDB's regexp_extract returns ''
    // rather than NULL — the guard keeps the mirrors aligned if a
    // future fixture ever produces one.
    val suffixCases = graft.functions.TextFunctions.suffixesByPriority
      .map { sfx =>
        val pat = "([^.]+\\." + sfx.replace(".", "\\.") + ")$"
        s"WHEN host = '$sfx' THEN NULL " +
          s"WHEN regexp_matches(host, '$pat') THEN regexp_extract(host, '$pat', 1)"
      }
      .mkString("\n    ")
    s"""WITH d AS (
       |  SELECT lower(regexp_extract(
       |      'https://' || $pres[CAST(doc_id % 10 + 1 AS INT)]
       |        || 'org' || CAST(doc_id % 7 AS VARCHAR)
       |        || $posts[CAST(doc_id % 10 + 1 AS INT)] || '/doc/' || doc_id,
       |      '^[a-z]+://([^/?#]+)', 1)) AS host,
       |    CAST(len($toksSql) AS BIGINT) AS ntok
       |  FROM documents),
       |g AS (SELECT CASE
       |    $suffixCases
       |    ELSE NULLIF(regexp_extract(host, '([^.]+\\.[^.]+)$$', 1), '') END AS domain, ntok
       |  FROM d)
       |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ntok) AS BIGINT) AS tokens,
       |  CAST(sum(ntok) AS DOUBLE) / CAST(sum(sum(ntok)) OVER () AS DOUBLE) AS token_share
       |FROM g GROUP BY domain
       |ORDER BY domain""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("t01_token_stats", t01, Some(t01Sql)),
    QuerySpec("t02_quality_score", t02, Some(t02Sql)),
    QuerySpec("t03_langid", t03, Some(t03Sql)),
    QuerySpec("t04_fingerprint", t04, Some(t04Sql)),
    QuerySpec("t05_dedup_exact_stats", t05, Some(t05Sql)),
    QuerySpec("t06_dedup_exact_groups", t06, Some(t06Sql)),
    QuerySpec("t07_dedup_minhash_lsh", t07, Some(t07Sql)),
    QuerySpec("t08_dedup_simhash", t08, Some(t08Sql)),
    QuerySpec("t09_dedup_jaccard_blocked", t09, Some(t09Sql)),
    QuerySpec("t10_fingerprint_mod", t10, Some(t10Sql)),
    QuerySpec("t11_redaction", t11, Some(t11Sql)),
    QuerySpec("t12_tfidf_topterms", t12, Some(t12Sql)),
    QuerySpec("t13_dup_clusters", t13, Some(t13Sql)),
    QuerySpec("t14_hash_split", t14, Some(t14Sql)),
    QuerySpec("t15_dedup_incremental", t15, Some(t15Sql)),
    QuerySpec("t16_contamination", t16, Some(t16Sql)),
    QuerySpec("t17_lm_quality", t17, Some(t17Sql)),
    QuerySpec("t18_repetition_filter", t18, Some(t18Sql)),
    QuerySpec("t19_mixture_resample", t19, Some(t19Sql)),
    QuerySpec("t20_sequence_pack", t20, Some(t20Sql)),
    QuerySpec("t21_corpus_report", t21, Some(t21Sql)),
    QuerySpec("t22_doc_chunks", t22, Some(t22Sql)),
    QuerySpec("t23_repeated_passages", t23, Some(t23Sql)),
    QuerySpec("t24_dedup_keep_best", t24, Some(t24Sql)),
    QuerySpec("t25_training_manifest", t25, Some(t25Sql)),
    QuerySpec("t26_ngram_decontamination", t26, Some(t26Sql)),
    QuerySpec("t27_training_order", t27, Some(t27Sql)),
    QuerySpec("t28_token_budget_mix", t28, Some(t28Sql)),
    QuerySpec("t29_dedup_register", t29, Some(t29Sql)),
    QuerySpec("t30_bpe_merges", t30, Some(t30Sql)),
    QuerySpec("t31_bm25_topk", t31, Some(t31Sql)),
    QuerySpec("t32_training_export", t32, Some(t32Sql)),
    QuerySpec("t33_bpe_encode", t33, Some(t33Sql)),
    QuerySpec("t34_chain_components", t34, Some(t34Sql)),
    QuerySpec("t35_dsir_resample", t35, Some(t35Sql)),
    QuerySpec("t36_temperature_mix", t36, Some(t36Sql)),
    QuerySpec("t37_fim_transform", t37, Some(t37Sql)),
    QuerySpec("t38_span_corruption", t38, Some(t38Sql)),
    QuerySpec("t39_pack_boundaries", t39, Some(t39Sql)),
    QuerySpec("t40_winnow_fingerprints", t40, Some(t40Sql)),
    QuerySpec("t41_stratified_sample", t41, Some(t41Sql)),
    QuerySpec("t42_c4_line_cleaning", t42, Some(t42Sql)),
    QuerySpec("t43_c4_clean_pages", t43, Some(t43Sql)),
    QuerySpec("t44_perplexity_buckets", t44, Some(t44Sql)),
    QuerySpec("t45_classifier_pareto", t45, Some(t45Sql)),
    QuerySpec("t46_hybrid_rrf", t46, Some(t46Sql)),
    QuerySpec("t47_unimax_sampling", t47, Some(t47Sql)),
    QuerySpec("t48_dedup_editdist", t48, Some(t48Sql)),
    QuerySpec("t49_substring_excision", t49, Some(t49Sql)),
    QuerySpec("t50_unigram_learn", t50, Some(t50Sql)),
    QuerySpec("t51_unigram_encode", t51, Some(t51Sql)),
    QuerySpec("t52_heavy_hitters", t52, Some(t52Sql)),
    QuerySpec("t53_bm25_index", t53, Some(t31Sql)),
    QuerySpec("t54_wordpiece_encode", t54, Some(t54Sql)),
    QuerySpec("t55_cms_estimates", t55, Some(t55Sql)),
    QuerySpec("t56_weighted_reservoir", t56, Some(t56Sql)),
    QuerySpec("t57_bloom_decontamination", t57, Some(t57Sql)),
    QuerySpec("t58_wordpiece_merges", t58, Some(t58Sql)),
    QuerySpec("t59_hll_distinct", t59, Some(t59Sql)),
    QuerySpec("t60_kmv_quantiles", t60, Some(t60Sql)),
    QuerySpec("t61_zipf_fit", t61, Some(t61Sql)),
    QuerySpec("t62_pmi_collocations", t62, Some(t62Sql)),
    QuerySpec("t63_kneser_ney_ppl", t63, Some(t63Sql)),
    QuerySpec("t64_textrank_keywords", t64, Some(t64Sql)),
    QuerySpec("t65_good_turing", t65, Some(t65Sql)),
    QuerySpec("t66_pii_scan", t66, Some(t66Sql)),
    QuerySpec("t67_containment_pairs", t67, Some(t67Sql)),
    QuerySpec("t68_char_entropy", t68, Some(t68Sql)),
    QuerySpec("t69_novel_gram_rate", t69, Some(t69Sql)),
    QuerySpec("t70_blocklist_scan", t70, Some(t70Sql)),
    QuerySpec("t71_rake_keywords", t71, Some(t71Sql)),
    QuerySpec("t72_heaps_law", t72, Some(t72Sql)),
    QuerySpec("t73_minhash_s_curve", t73, Some(t73Sql)),
    QuerySpec("t74_pseudonymize", t74, Some(t74Sql)),
    QuerySpec("t75_quality_outliers", t75, Some(t75Sql)),
    QuerySpec("t76_rocchio_prf", t76, Some(t76Sql)),
    QuerySpec("t77_fuzzy_decontamination", t77, Some(t77Sql)),
    QuerySpec("t78_domain_mixture", t78, Some(t78Sql)))
}
