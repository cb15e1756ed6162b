package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.io.VersionedTable
import graft.util.{CacheRegistry, Fixpoint}

/** Document deduplication family for training-data pipelines — exact,
  * MinHash+LSH, SimHash, and blocked n-gram Jaccard.
  *
  * Scale design (the 100 TB story):
  *  - Exact dedup is one hash-shuffle on a 16-byte digest — never on the
  *    raw text.
  *  - MinHash/LSH turns the O(n²) near-dup problem into: one pass to build
  *    k-wide signatures (map-side min-aggregation per doc), an explode to
  *    (band, bandHash) keys, a self-join that only meets documents sharing
  *    a band bucket, then exact Jaccard verification on the candidate set.
  *    Candidate volume ≈ true-pair volume, not n².
  *  - SimHash is the same shape with bit-sliced Hamming blocking
  *    (4×16-bit bands ⇒ any pair within Hamming distance 3 shares a band,
  *    by pigeonhole).
  *  - Blocked Jaccard bounds the pairwise join to an explicit blocking key
  *    (e.g. `source`) when the domain provides one.
  */
object Dedup {

  /** One row per doc_id with a DETERMINISTIC text pick (min). Replaces
    * `dropDuplicates("doc_id")` in the index write/probe paths:
    * dropDuplicates keeps an arbitrary row, so when a persisted frame is
    * partially evicted and recomputed between the shingles and bands
    * writes, a doc_id replayed with differing text could register band
    * keys from one version and shingles from the other — candidates
    * generated from text A verified against text B. min(text) makes
    * recomputation reproduce the identical pick. */
  private def uniqueById(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .groupBy(col("doc_id")).agg(min(col("text")).as("text"))

  /** Adds `toks` + `shingles` (word n-grams, distinct, SORTED — the
    * contract the merge-based [[graft.functions.JaccardSorted]] needs) to
    * a documents frame. Docs with fewer than n words keep an empty shingle
    * set and are excluded from near-dup search (nothing to compare).
    *
    * Shingle construction runs as the codegen'd `graft_shingles`
    * expression (r17): the built-in
    * `array_sort(array_distinct(transform(...)))` chain is four
    * CodegenFallback higher-order functions — interpreted, one boxed
    * lambda dispatch per element per level — and it was THE dominant
    * cost of the whole MinHash family at 100× (t77's shingle stage:
    * 220 s of 232 s total; the one-pass expression reads ~29 s). The
    * expression's output is bit-identical to the chain (binary sort
    * order included), so every downstream signature, band, and
    * exact-Jaccard verdict — and therefore every family oracle — is
    * unchanged by construction. */
  def withShingles(docs: DataFrame, n: Int = 3): DataFrame = {
    graft.functions.GraftExpressions.register(docs.sparkSession)
    docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("shingles", call_function("graft_shingles", col("text"), lit(n)))
      .filter(size(col("shingles")) > 0)
  }

  /** Exact duplicate groups keyed by md5(text). Returns one row per group
    * with >1 members: (text_hash, n_copies, keep_id, max_id). */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"),
        max(col("doc_id")).as("max_id"))
      .filter(col("n_copies") > 1)

  /** Corpus-level exact-dedup summary: total docs, distinct texts, and how
    * many rows a keep-first dedup would drop. Single-row output. */
  def exactDedupStats(docs: DataFrame): DataFrame =
    docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text"))).as("n_distinct_texts"),
      (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dup_rows"))

  /** Exact n-gram decontamination (the GPT-3/PaLM published recipe): for
    * every eval document, how many of its distinct word n-grams appear
    * verbatim in ANY training document. This is the stricter sibling of
    * the Jaccard contamination audit ([[nearDupsAgainstIndex]] over a
    * split): a single shared 13-gram flags a doc even when whole-document
    * similarity is negligible — the rule benchmark publishers actually
    * apply before reporting eval numbers.
    *
    * Both frames need (doc_id, text). Output: one row per eval doc with
    * ≥ n tokens — (doc_id, n_grams, n_overlap, contaminated).
    *
    * Scale: grams are reduced to 8-byte xxhash64 keys before anything
    * shuffles — the train side to a distinct hash set, the eval side to
    * distinct (doc_id, hash) pairs — so the join and both distincts move
    * 8–16 bytes per gram instead of ~100-byte strings, and the join is a
    * plain equi-join (broadcast under AQE while the train gram set fits,
    * shuffle-join beyond). A 64-bit collision (≈n²/2⁶⁵) can only flag one
    * extra gram, never unflag one — acceptable for a contamination audit
    * (same trade the published pipelines make by matching on hashes). */
  def ngramContamination(train: DataFrame, eval: DataFrame, n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    graft.functions.GraftExpressions.register(train.sparkSession)
    // gram construction runs as the codegen'd graft_ngrams (r17 — the
    // graft_shingles lesson; the interpreted transform/slice/concat_ws
    // chain was the scan-stage cost here too). Docs under n tokens
    // explode to zero rows, the same set the old size-filter dropped.
    def grams(docs: DataFrame) = docs
      .select(col("doc_id"),
        explode(call_function("graft_ngrams", col("text"), lit(n))).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
      .distinct()
    val trainSet = grams(train).select(col("gh")).distinct()
      .withColumn("_hit", lit(true))
    grams(eval)
      .join(trainSet, Seq("gh"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  /** Bloom-filtered n-gram decontamination (Bloom CACM 1970 applied to
    * the GPT-3/PaLM exact-gram recipe) — the bounded-memory scale path
    * for [[ngramContamination]]: at 100 TB the training side's distinct
    * gram set is itself corpus-scale, but a `numBits`-bit Bloom filter
    * is a FIXED-size artifact any probe task can hold. Build: one
    * aggregation folds the training grams into the bit set
    * ([[graft.functions.BloomSketch]] — raw gram strings never shuffle,
    * partition masks OR together, merge-order independent by algebra).
    * Probe: the set positions (≤ numBits rows, typically far fewer)
    * broadcast-join against each eval gram's `numHashes` positions; a
    * gram is a bloom hit iff ALL its positions are set.
    *
    * Bloom membership can false-positive but never false-negative — the
    * safe direction for decontamination (over-eager dropping of benign
    * docs, never eval data leaking through). The exact verify rides
    * along per doc (the heavyHitters propose/dispose discipline), so
    * the output carries the measured false-positive count — and because
    * every bit position is the portable fold, the ENTIRE filter
    * (positions, memberships, FP counts) is oracle-replayable:
    * approximate answers as hash-gated data.
    *
    * Output per eval doc: (doc_id, n_grams, n_bloom_hits, n_exact_hits,
    * n_false_positives, contaminated) — `contaminated` is the bloom
    * verdict (what the scale path would act on). */
  def bloomContamination(train: DataFrame, eval: DataFrame, n: Int,
      numHashes: Int = 2, numBits: Int = 1 << 20): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    graft.functions.GraftExpressions.register(train.sparkSession)
    val spark = train.sparkSession
    import spark.implicits._
    def grams(docs: DataFrame) = docs
      .select(col("doc_id"),
        explode(call_function("graft_ngrams", col("text"), lit(n))).as("gram"))
    // Bloom insertion is OR-idempotent, so the sketch consumes the raw
    // (un-distinct) gram stream straight off the scan — NO shuffle of
    // gram strings on the build side, which is the operator's whole
    // scale contract (a distinct here would be a corpus-scale exchange
    // of ~100-byte strings before an aggregation that doesn't need it).
    val words = grams(train)
      .agg(expr(s"graft_bloom_sketch(gram, $numHashes, $numBits)").as("bits"))
      .head().getSeq[Long](0)
    // the bitmask's set positions, expanded driver-side (bounded by
    // numBits) and broadcast — the distributed form of "probe the filter"
    val setPos = spark.createDataset(
      words.zipWithIndex.flatMap { case (w, i) =>
        (0 until 64).filter(b => ((w >>> b) & 1L) == 1L)
          .map(b => (i.toLong << 6) | b.toLong)
      }).toDF("pos")
    val hashCols = (0 until numHashes).map(h =>
      pmod(Sampling.portableFingerprint(
        concat(lit(s"bf:$h:"), col("gram"))), lit(numBits)).as(s"p$h"))
    val probed = grams(eval).distinct()
      .select(col("doc_id") +: col("gram") +: hashCols: _*)
      .select(col("doc_id"), col("gram"),
        explode(array((0 until numHashes).map(h => col(s"p$h")): _*)).as("pos"))
      .join(broadcast(setPos.withColumn("_set", lit(true))), Seq("pos"), "left_outer")
      .groupBy(col("doc_id"), col("gram"))
      .agg((count(col("_set")) === numHashes).as("bloom_hit"))
    // exact verify (the gate's ground truth): grams reduce to 8-byte
    // xxhash64 keys BEFORE the distinct/join shuffles — the
    // ngramContamination discipline; a second train-docs scan beats
    // caching a corpus-scale exploded gram frame
    val trainGh = grams(train).select(xxhash64(col("gram")).as("gh")).distinct()
      .withColumn("_ex", lit(true))
    probed
      .withColumn("gh", xxhash64(col("gram")))
      .join(trainGh, Seq("gh"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom_hits"),
        count(col("_ex")).as("n_exact_hits"))
      .withColumn("n_false_positives", col("n_bloom_hits") - col("n_exact_hits"))
      .withColumn("contaminated", col("n_bloom_hits") > 0)
  }

  /** MinHash signature columns h0..h{k-1}: min over shingles of
    * xxhash64(shingle, i). One groupBy per doc; partial (map-side) min
    * aggregation means the shuffle carries k longs per doc, not shingles. */
  private def minhashSignatures(exploded: DataFrame, k: Int): DataFrame = {
    val sigCols = (0 until k).map(i => min(xxhash64(col("sh"), lit(i))).as(s"h$i"))
    exploded.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** Per-band LSH keys of a signature frame: (doc_id, band_idx,
    * band_hash), one posexplode pass. The band hash is a function of
    * (band index, that band's signature rows) only, so keys built at
    * index time and query time agree. */
  private def bandKeys(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandHashes = array((0 until bands).map { b =>
      val rowCols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"h$i"))
      xxhash64(lit(b) +: rowCols: _*)
    }: _*)
    sigs.select(col("doc_id"), posexplode(bandHashes).as(Seq("band_idx", "band_hash")))
  }

  /** LSH candidate pairs: docs sharing at least one band of the signature.
    * bands × rowsPerBand must equal k. The band table is built with ONE
    * posexplode pass — a union of per-band selects would re-run the whole
    * signature aggregation once per band (measured 8× cost at bench). */
  private def lshCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val keyed = bandKeys(sigs, bands, rowsPerBand)
    keyed.as("x")
      .join(keyed.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Near-duplicate pairs with exact n-gram Jaccard ≥ threshold, found via
    * MinHash+LSH candidate generation and verified exactly. With the
    * default 32 hashes / 8 bands of 4, a pair at Jaccard j is caught with
    * probability 1-(1-j⁴)⁸ (≥ 0.998 at j=0.8, ~1 at j≥0.9). */
  def minhashNearDups(
      docs: DataFrame,
      shingleSize: Int = 3,
      threshold: Double = 0.8,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    // Catalyst does NOT dedupe common subplans across a self-join's two
    // sides (or union branches), so the two shared frames are persisted:
    // the narrow exploded (doc_id, sz, shingle) rows — feeding both the
    // signature aggregation and the exact verification joins — and the
    // k-long signatures feeding the band self-join. (Persisting the
    // shingle ARRAYS instead measures slower: columnar-caching
    // array<string> costs more than the pass it saves.)
    val ex = CacheRegistry.track(withShingles(docs, shingleSize)
      .select(col("doc_id"), size(col("shingles")).as("sz"),
        explode(col("shingles")).as("sh")))
    val sigs = CacheRegistry.track(minhashSignatures(ex, numHashes))
    val cand = lshCandidates(sigs, bands, numHashes / bands)
    // Exact Jaccard on the candidates by counting shared shingles (same
    // count-based identity as [[blockedJaccardPairs]]): candidates sharing
    // zero shingles can't pass any threshold > 0 and drop out naturally.
    cand
      .join(ex.select(col("doc_id").as("doc_a"), col("sz").as("sza"), col("sh")), "doc_a")
      .join(ex.select(col("doc_id").as("doc_b"), col("sz").as("szb"), col("sh")), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b"), col("sza"), col("szb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** CROSS-corpus near-duplicate detection — fuzzy eval-set
    * decontamination (the Dolma/FineWeb recipe step; VERDICT r16 #6):
    * which training documents are near-dups of an external benchmark
    * document? t26/t57 catch verbatim n-gram leaks; this catches
    * PARAPHRASED leakage via the same MinHash-LSH banding as
    * [[minhashNearDups]], but across two corpora with asymmetric
    * sizes: the benchmark side is orders of magnitude smaller than the
    * training corpus, so its band keys BROADCAST — the training side
    * is never shuffled for candidate generation, and the plan contains
    * no cartesian product (PlanSpec pins both properties). Defaults
    * run 64 hashes / 16 bands of 4: detection at the 0.8 threshold is
    * 1−(1−j⁴)¹⁶ (≥ 0.9998 at j = 0.8, ~1 at j ≥ 0.9) — tighter than
    * t07's 8-band scheme because a decontamination FALSE NEGATIVE is
    * an eval leak, the costly direction.
    *
    * Exact-Jaccard verification joins candidates back to both sides'
    * shingle frames (the [[minhashNearDups]] identity); the eval-side
    * shingles broadcast there too. Output: (train_doc, eval_doc,
    * jaccard ≥ threshold), ordered. */
  def crossCorpusNearDups(train: DataFrame, evalDocs: DataFrame,
      shingleSize: Int = 3, threshold: Double = 0.8,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val exT = CacheRegistry.track(withShingles(train, shingleSize)
      .select(col("doc_id"), size(col("shingles")).as("sz"),
        explode(col("shingles")).as("sh")))
    val exE = CacheRegistry.track(withShingles(evalDocs, shingleSize)
      .select(col("doc_id"), size(col("shingles")).as("sz"),
        explode(col("shingles")).as("sh")))
    // hash-ONCE discipline (the t73 lesson, applied to the signature
    // build): xxhash64(shingle, i) per hash function re-reads the
    // shingle's BYTES numHashes times — ~30 chars × 64 functions per
    // occurrence; folding each shingle to ONE 8-byte hash and deriving
    // the family from the long (xxhash64 over 12 bytes per function)
    // cut the 100× query 252.9 → 220.4 s, and the remaining mass was
    // the interpreted shingle CONSTRUCTION, since replaced by the
    // codegen'd graft_shingles (see withShingles — the full query now
    // reads ~36 s at 100×). The family re-roll is safe FOR T77'S CALL
    // (threshold 0.85, where 16 bands of 4 give miss ≤ 7·10⁻⁶ per
    // qualifying pair — what lets an exact oracle gate the probabilistic
    // engine); at this function's DEFAULT threshold of 0.80 the same
    // math gives ~2·10⁻⁴ per pair — fine for a decontamination sweep,
    // but a caller pairing defaults with an exact oracle should raise
    // the threshold or the band count (ADVICE r17). t07's 8×4 @ 0.80
    // keeps the historical string family its recorded verdicts pinned.
    def hashedOnce(ex: DataFrame) =
      ex.select(col("doc_id"), xxhash64(col("sh")).as("xsh"))
    def sigs(ex: DataFrame) = {
      val sigCols = (0 until numHashes)
        .map(i => min(xxhash64(lit(i), col("xsh"))).as(s"h$i"))
      hashedOnce(ex).groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    }
    val keyT = bandKeys(sigs(exT), bands, numHashes / bands)
    val keyE = bandKeys(sigs(exE), bands, numHashes / bands)
    val cand = keyT.as("x")
      .join(broadcast(keyE.as("y")),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash"))
      .select(col("x.doc_id").as("train_doc"), col("y.doc_id").as("eval_doc"))
      .distinct()
    cand
      .join(exT.select(col("doc_id").as("train_doc"), col("sz").as("sza"), col("sh")),
        "train_doc")
      .join(broadcast(exE.select(col("doc_id").as("eval_doc"), col("sz").as("szb"),
        col("sh"))), Seq("eval_doc", "sh"))
      .groupBy(col("train_doc"), col("eval_doc"), col("sza"), col("szb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("train_doc"), col("eval_doc"), col("jaccard"))
      .orderBy(col("train_doc"), col("eval_doc"))
  }

  /** MinHash-LSH S-curve measurement (Broder, "On the resemblance and
    * containment of documents", 1997; the b×r collision analysis of
    * Leskovec–Rajaraman–Ullman, MMDS ch. 3) — the m13/v22
    * measurement-as-data discipline applied to the t07 band bet: the
    * detection probability of a (bands × rowsPerBand) scheme is the
    * S-curve 1 − (1 − j^r)^b, and this operator measures the EMPIRICAL
    * rate against it on planted pairs, bucketed by exact Jaccard.
    *
    * `docs` carries both pair members: originals at id and perturbed
    * copies at id + `pairOffset`. Detection is evaluated PER PAIR by
    * direct signature comparison — the two members share a band iff
    * their r consecutive signature slots agree — which is exactly the
    * collision event `lshCandidates`' band self-join keys on, without
    * materializing a corpus self-join the measurement doesn't need.
    * Per-pair work is O(shingles × hashes) inside codegen; the only
    * shuffle is the id-arithmetic pair join plus the bucket rollup.
    *
    * The hash family is universal-style: each shingle is folded ONCE
    * by the portable fold, then h_i(x) = (fold(x)·a_i + b_i) mod p
    * with the (a_i, b_i) constants derived host-side from the same
    * fold ([[sCurveHashConsts]]) and shared with the oracle as
    * literals. Folding once matters: the first cut folded the string
    * `"mh:i:" + shingle` per (shingle, hash) — 16 character folds per
    * shingle — and read 277 s at 100×/500k docs where this form reads
    * ~30 s; the fold binds as the `aggregate` lambda variable so
    * projection collapse cannot re-inline it per hash (the t71
    * lesson). The production t07 path keys on xxhash64, which changes
    * nothing statistical — the curve is a property of the scheme, not
    * the hash family. The theoretical column is computed with pure
    * multiplication (no `pow`), so both engines produce bit-identical
    * doubles.
    *
    * Output: (j_bucket 0–9 = floor(j·10) capped, n_pairs, n_detected,
    * empirical_rate, mean_theoretical), bucket order. */
  private[graft] val SCurveP = 2147483647L

  /** Universal-hash constants for [[minhashSCurve]]: a_i ∈ [1, p−1],
    * b_i ∈ [0, p−1], derived from the portable fold + Knuth remix so
    * both the engine and the DuckDB oracle can bake the same literals.
    * Host-side on purpose — deriving them per row would re-fold a
    * constant string corpus-many times. */
  private[graft] def sCurveHashConsts(numHashes: Int): (Seq[Long], Seq[Long]) = {
    def mixHost(s: String): Long =
      (graft.functions.Fold31.fold(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
        * 2654435761L) % SCurveP
    ((0 until numHashes).map(i => 1L + mixHost(s"mh:a:$i") % (SCurveP - 1)),
      (0 until numHashes).map(i => mixHost(s"mh:b:$i")))
  }

  def minhashSCurve(docs: DataFrame, pairOffset: Long, shingleSize: Int = 3,
      rowsPerBand: Int = 4, bands: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(rowsPerBand >= 1 && bands >= 1, "need at least one band of one row")
    val numHashes = rowsPerBand * bands
    // NO row filter anywhere in this frame — that is load-bearing. The
    // first cut filtered `size(shingles) > 0` here, and predicate
    // pushdown sank that WHOLE token+shingle expression through the
    // repartition exchange into the parquet scan, whose single-file
    // split runs on ONE core: the entire corpus tokenized (and, on the
    // planted branch, perturbed) serially before any parallel stage —
    // measured 277–384 s at 100×/333k docs across three variants that
    // all shared the pushed filter, vs ~30 s once no pushable heavy
    // predicate exists. Empty-shingle docs flow through (their pair is
    // dropped by the both-sides union guard below, which cannot sink
    // past the join because it references both legs).
    // tokens stay an ALIASED intermediate (two selects): inlining them
    // into the shingle transform would re-split the text per shingle
    // slice; CollapseProject leaves a multiply-referenced non-cheap
    // alias alone, so the boundary holds without a filter
    val sig = docs
      .select(col(idCol).as("doc_id"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"),
        graft.functions.TextFunctions.shingles(col("_toks"), shingleSize).as("s"))
      .withColumn("sig", {
        val (as, bs) = sCurveHashConsts(numHashes)
        val aLit = array(as.map(lit): _*)
        val bLit = array(bs.map(lit): _*)
        aggregate(
          transform(col("s"), sh => Sampling.portableFingerprint(sh)),
          array_repeat(lit(SCurveP), numHashes),
          (acc, f) => zip_with(acc,
            transform(sequence(lit(0), lit(numHashes - 1)), h =>
              (f * element_at(aLit, h + 1) + element_at(bLit, h + 1))
                % lit(SCurveP)),
            (x, y) => least(x, y)))
      })
    val orig = sig.filter(col("doc_id") < pairOffset)
    val copy = sig.filter(col("doc_id") >= pairOffset)
      .select((col("doc_id") - pairOffset).as("doc_id"),
        col("s").as("sb"), col("sig").as("sigb"))
    val pairs = orig.join(copy, "doc_id")
    val scored = pairs
      .withColumn("inter", size(array_intersect(col("s"), col("sb"))))
      .withColumn("_union", size(col("s")) + size(col("sb")) - col("inter"))
      .filter(col("_union") > 0)
      .withColumn("j", col("inter").cast("double") / col("_union"))
      .withColumn("detected",
        exists(sequence(lit(0), lit(bands - 1)), b =>
          forall(sequence(lit(0), lit(rowsPerBand - 1)), r =>
            element_at(col("sig"), b * rowsPerBand + r + lit(1)) ===
              element_at(col("sigb"), b * rowsPerBand + r + lit(1)))))
      // j^r and (1-j^r)^b as explicit products: IEEE multiplication is
      // bit-identical cross-engine where pow() is only ulp-close
      .withColumn("_jr",
        (1 until rowsPerBand).foldLeft(col("j"))((acc, _) => acc * col("j")))
      .withColumn("theo",
        lit(1.0) - (1 until bands).foldLeft(lit(1.0) - col("_jr"))(
          (acc, _) => acc * (lit(1.0) - col("_jr"))))
      .withColumn("j_bucket", least(lit(9L), floor(col("j") * 10).cast("long")))
    scored.groupBy(col("j_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("detected"), 1L).otherwise(0L)).as("n_detected"),
        graft.queries.Num.davg(col("theo")).as("mean_theoretical"))
      .withColumn("empirical_rate",
        col("n_detected").cast("double") / col("n_pairs"))
      .select(col("j_bucket"), col("n_pairs"), col("n_detected"),
        col("empirical_rate"), col("mean_theoretical"))
      .orderBy(col("j_bucket"))
  }

  /** Builds a persisted near-dup INDEX under `dir`: per-document LSH band
    * keys (`bands`) and the exploded shingle rows the exact verification
    * needs (`shingles`). This is the production shape of dedup at corpus
    * scale — the full corpus is signed ONCE, and each new batch is
    * checked against the index ([[nearDupsAgainstIndex]]) instead of
    * re-mining all pairs daily. On a cluster, bucket both tables by their
    * join keys (band_hash / sh) so the daily probe is a co-located join.
    *
    * The index is one [[graft.io.VersionedTable]] rooted at `dir`. Each
    * batch label — `__base__` for this build, one per
    * [[registerInNearDupIndex]] call — owns a snapshot dir holding its
    * `bands/` and `shingles/` tables; a version's manifest lists every
    * live label's two leaf dirs and maps each label to its snapshot dir.
    * Every writer stages a fresh snapshot dir and then commits the next
    * manifest at the version it read + 1, so a probe always reads a
    * complete index and a crash before the marker leaves the prior
    * version as it was. The build replaces `__base__` and keeps the
    * registered labels. */
  def buildNearDupIndex(docs: DataFrame, dir: String, shingleSize: Int = 3,
      numHashes: Int = 32, bands: Int = 8): Unit =
    CacheRegistry.time(docs.sparkSession, "index_build") {
      buildNearDupIndexImpl(docs, dir, shingleSize, numHashes, bands)
    }

  private def buildNearDupIndexImpl(docs: DataFrame, dir: String,
      shingleSize: Int, numHashes: Int, bands: Int): Unit = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must divide evenly into bands ($bands), " +
        "or trailing signature hashes are silently ignored")
    val spark = docs.sparkSession
    val base = VersionedTable.base(spark, dir)
    // uniqueById mirrors the probe side: the single-label plain-count
    // verify assumes index rows are unique per (doc_id, sh) — an
    // at-least-once source replaying a record into the build input would
    // otherwise write duplicate rows and double intersection counts.
    // Enforce the uniqueness invariant at WRITE time, not just at probe.
    val ex = CacheRegistry.track(withShingles(uniqueById(docs), shingleSize)
      .select(col("doc_id"), size(col("shingles")).as("sz"), explode(col("shingles")).as("sh")))
    val snap = VersionedTable.freshDir()
    writeBatch(ex, dir, snap, numHashes, bands)
    commitLabels(spark, dir, base, labels(base) + (BaseBatch -> snap))
    // the signing parameters ARE the index format: a probe with different
    // ones finds zero candidates with no error, so persist them and let
    // the probe fail loudly on a mismatch. A tiny JSON side file the
    // probe re-reads on EVERY call without a Spark job — so a concurrent
    // rebuild with different parameters is seen by long-lived probers
    // (e.g. the streaming audit sink).
    graft.io.ParamsFile.write(spark, dir,
      "shingle_size" -> shingleSize, "num_hashes" -> numHashes, "bands" -> bands)
  }

  /** Label of the initial [[buildNearDupIndex]] contents. */
  val BaseBatch = "__base__"

  private val IndexTables = Seq("bands", "shingles")

  /** Writes one batch's two index tables under the snapshot dir `snap`. */
  private def writeBatch(ex: DataFrame, dir: String, snap: String,
      numHashes: Int, bands: Int): Unit = {
    bandKeys(minhashSignatures(ex, numHashes), bands, numHashes / bands)
      .write.parquet(s"$dir/$snap/bands")
    ex.write.parquet(s"$dir/$snap/shingles")
  }

  /** Batch label → snapshot dir, as `base`'s committed manifest maps them. */
  private def labels(base: VersionedTable.Base): Map[String, String] =
    base.current.fold(Map.empty[String, String])(_.meta)

  /** The `table` leaf dirs of `labels`' snapshots, relative to the index dir. */
  private def leafDirs(labels: Map[String, String], table: String): Seq[String] =
    labels.values.toSeq.sorted.map(d => s"$d/$table")

  /** Publishes `labels` as the index version after `base` (failing loudly
    * if another writer committed since), then keeps the newest two. */
  private def commitLabels(spark: org.apache.spark.sql.SparkSession, dir: String,
      base: VersionedTable.Base, labels: Map[String, String]): Unit = {
    VersionedTable.commit(spark, dir, base,
      VersionedTable.Manifest(IndexTables.flatMap(leafDirs(labels, _)), labels))
    VersionedTable.vacuum(spark, dir, keep = 2)
  }

  /** Registers a new batch of documents INTO a persisted near-dup index —
    * the write half of the daily incremental-dedup cycle (probe the batch
    * with [[nearDupsAgainstIndex]], then register it so TOMORROW's batch
    * dedups against today's). Signs the batch with the index's own
    * persisted parameters (validated — a silent mismatch would make the
    * docs unfindable), writes its band keys and shingles into a fresh
    * snapshot dir, and commits a manifest that maps `batchId` to it.
    *
    * Idempotent per batchId: a replayed batch (at-least-once sinks,
    * retried jobs) maps its label to the new dir, replacing its own
    * earlier rows instead of adding duplicates. A register that commits
    * after this one read the index makes this one fail loudly and
    * publish nothing. Cost scales with the batch — the existing index is
    * never read or rewritten. */
  def registerInNearDupIndex(newDocs: DataFrame, dir: String, batchId: String,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8): Unit = {
    require(batchId.nonEmpty && batchId != BaseBatch &&
        batchId.forall(c => c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"batchId must be a filesystem-safe label, not '$batchId'")
    val spark = newDocs.sparkSession
    val stored = readParams(spark, dir)
    require(stored == ((shingleSize, numHashes, bands)),
      s"index at $dir was built with (shingleSize, numHashes, bands) = $stored " +
        s"but registration asked for ($shingleSize, $numHashes, $bands) — " +
        "the docs would be unfindable")
    CacheRegistry.time(spark, "index_register") {
      // taken before newDocs is read: the commit goes at this version + 1
      val base = VersionedTable.base(spark, dir)
      // locally-scoped persist (NOT the tracked registry): the explode
      // feeds both writes, but long-lived callers (the streaming sink)
      // register every epoch and a registry entry per epoch would pile up
      // uniqueById: a replayed record inside ONE batch would write
      // duplicate (doc_id, sz, sh) rows under a single label — the state
      // the probe's single-label plain-count verify cannot absorb (it
      // would double intersections and inflate jaccard past 1)
      val ex = withShingles(uniqueById(newDocs), shingleSize)
        .select(col("doc_id"), size(col("shingles")).as("sz"), explode(col("shingles")).as("sh"))
        .persist()
      val snap = VersionedTable.freshDir()
      try writeBatch(ex, dir, snap, numHashes, bands) finally ex.unpersist()
      commitLabels(spark, dir, base, labels(base) + (batchId -> snap))
    }
  }

  /** Rebases every registered batch of a persisted near-dup index into
    * `__base__` — the maintenance half of the daily incremental-dedup
    * cycle. Registrations ([[registerInNearDupIndex]]) and streaming
    * epochs ([[graft.streaming.StreamingDedup]]) add one small snapshot
    * each, forever: compaction folds them so the label count, file count
    * and listing cost stay bounded, and the probe's verify drops back to
    * the cheap single-label plain-count aggregate.
    *
    * Probe results are IDENTICAL before and after (asserted in
    * MaintenanceSpec): the rows of `__base__` and every folded label are
    * `distinct`-folded per table into one new `__base__` snapshot, so a
    * doc that was registered under two labels collapses to one row set —
    * exactly the state the single-label verify assumes. The fold is
    * published by one manifest commit, so a crash at any point before
    * the marker leaves the prior version readable, and a re-run compacts
    * from it. Run it between probe/register cycles (a maintenance
    * window, like any OPTIMIZE): folding a batch out from under a
    * STILL-RETRYING epoch's `excludeBatch` would let a retried batch see
    * its own prior registration's non-identity rows — when compacting
    * from WITHIN a stream, pass that epoch's label in `keepBatches` (its
    * snapshot stays listed unchanged, everything else folds) — that is
    * exactly what [[graft.streaming.StreamingDedup.selfMaintainingDedupSink]]'s
    * epoch-start trigger does. Returns the number of batch labels folded. */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, keepBatches: Set[String] = Set.empty): Int = {
    readParams(spark, dir) // fail loudly on a dir that is not an index
    CacheRegistry.time(spark, "index_compact") {
      val base = VersionedTable.base(spark, dir)
      val (kept, fold) = labels(base).partition { case (l, _) =>
        l != BaseBatch && keepBatches.contains(l) }
      val folded = (fold - BaseBatch).size
      if (folded > 0) {
        // scan → write; the fold is never held in memory, so this works
        // on an index of any size
        val snap = VersionedTable.freshDir()
        IndexTables.foreach { t =>
          VersionedTable.load(spark, dir, leafDirs(fold, t)).distinct()
            .write.parquet(s"$dir/$snap/$t")
        }
        commitLabels(spark, dir, base, kept + (BaseBatch -> snap))
      }
      folded
    }
  }

  /** Params as the index dir currently declares them, re-read from its
    * `params.json` per call (microseconds, no Spark job, never stale).
    * A dir without one is not a near-dup index and fails loudly. */
  private def readParams(spark: org.apache.spark.sql.SparkSession, dir: String): (Int, Int, Int) = {
    val field = graft.io.ParamsFile.read(spark, dir, "near-dup")
    (field("shingle_size").toInt, field("num_hashes").toInt, field("bands").toInt)
  }

  /** Number of non-base batch labels the index's current manifest lists —
    * the count a maintenance trigger thresholds on
    * ([[graft.streaming.StreamingDedup.selfMaintainingDedupSink]]). Reads
    * the manifest, no Spark job. */
  private[graft] def registeredBatchCount(
      spark: org.apache.spark.sql.SparkSession, dir: String): Int =
    (labels(VersionedTable.base(spark, dir)) - BaseBatch).size

  /** Near-dup pairs between `newDocs` and the corpus indexed at `dir`
    * (same parameters as at [[buildNearDupIndex]] time): band keys of the
    * new batch equi-join the index's band table for candidates, then exact
    * Jaccard verifies against the index's shingle table. Both tables are
    * read from the dirs of ONE committed manifest, minus `excludeBatch`'s.
    * Output: (doc_a = indexed id, doc_b = new id, jaccard), ascending.
    * Cost scales with the BATCH, not the corpus: the corpus-side tables
    * are only probed at their join keys, never re-signed. `sorted = false`
    * skips the trailing global orderBy (a range shuffle + full sort) for
    * sinks where row order carries no meaning — e.g. a per-epoch
    * streaming parquet append. */
  def nearDupsAgainstIndex(newDocs: DataFrame, dir: String, shingleSize: Int = 3,
      threshold: Double = 0.8, numHashes: Int = 32, bands: Int = 8,
      cacheIntermediates: Boolean = true, sorted: Boolean = true,
      excludeBatch: Option[String] = None): DataFrame = {
    val spark = newDocs.sparkSession
    // mismatched signing parameters don't error — they find zero
    // candidates. Check against the params the index was built with,
    // re-read from the JSON side file per call (see readParams) so even
    // a rebuild by ANOTHER process mid-run is seen by long-lived probers.
    val stored = readParams(spark, dir)
    require(stored == ((shingleSize, numHashes, bands)),
      s"index at $dir was built with (shingleSize, numHashes, bands) = $stored " +
        s"but the probe asked for ($shingleSize, $numHashes, $bands) — " +
        "results would be silently empty")
    // excludeBatch: replay stability for probe-then-register cycles — a
    // retried batch must not see its OWN registration from the failed
    // attempt. Its dirs are left out of the read, so they aren't even listed.
    val live = labels(VersionedTable.base(spark, dir)) -- excludeBatch
    def indexTable(t: String): DataFrame = VersionedTable.load(spark, dir, leafDirs(live, t))
    // cacheIntermediates=false for callers that probe repeatedly in one
    // JVM (a streaming micro-batch sink): the batch-side explode is cheap
    // to recompute and per-epoch persists would accumulate in the
    // registry until the session's next releaseQuery
    // uniqueById: an at-least-once source can replay a record INTO
    // one batch (same doc_id twice); per-doc shingles are unique by
    // construction, but a duplicated probe row would double every
    // intersection count under the single-label plain-count verify and
    // inflate jaccard past 1. Same id ⇒ same document, one verdict.
    val exNewRaw = withShingles(uniqueById(newDocs), shingleSize)
      .select(col("doc_id"), size(col("shingles")).as("sz"), explode(col("shingles")).as("sh"))
    val exNew = if (cacheIntermediates) CacheRegistry.track(exNewRaw) else exNewRaw
    val newKeys = bandKeys(minhashSignatures(exNew, numHashes), bands, numHashes / bands)
    val idxKeys = indexTable("bands")
    val cand = newKeys.as("n")
      .join(idxKeys.as("o"),
        col("n.band_idx") === col("o.band_idx") &&
          col("n.band_hash") === col("o.band_hash") &&
          // self-pairs appear when a doc is both indexed and in the batch
          // (rerun/backfill); identity is not a dup
          col("n.doc_id") =!= col("o.doc_id"))
      .select(col("o.doc_id").as("doc_a"), col("n.doc_id").as("doc_b"))
      .distinct()
    val idxShingles = indexTable("shingles")
      .select(col("doc_id").as("doc_a"), col("sz").as("sza"), col("sh"))
    // Verify aggregate: per-doc shingles are unique by construction and a
    // label's snapshot is replaced wholesale on replay, so duplicate index
    // rows for one doc require that doc registered under TWO batch labels
    // (fresh checkpoint re-run over old drops). When the surviving
    // labels are a single one — fresh single-build indexes, or a
    // first-epoch probe after excludeBatch — a plain count is exact and
    // skips Spark's expand-based two-phase distinct over the
    // candidate×shingle join output (measured 3.3× on the contamination
    // audit, which probes 20% of the corpus against an 80% index).
    // Multi-label indexes (daily registrations, streaming epochs) keep
    // the duplicate-immune countDistinct.
    val interAgg =
      if (live.size > 1) countDistinct(col("sh"))
      else count(col("sh"))
    val verified = cand
      .join(idxShingles, "doc_a")
      .join(exNew.select(col("doc_id").as("doc_b"), col("sz").as("szb"), col("sh")),
        Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b"), col("sza"), col("szb"))
      .agg(interAgg.as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    if (sorted) verified.orderBy(col("doc_a"), col("doc_b")) else verified
  }

  /** Duplicate clusters from near-dup PAIRS: connected components over the
    * pair graph, labeling every document with the minimum doc id of its
    * component — the step that turns pairwise dedup output into an
    * actionable keep/drop decision (keep `doc_id == cluster_id`, drop the
    * rest). Input: a frame with `doc_a < doc_b` pair columns (any of
    * [[minhashNearDups]] / [[simhashNearDups]] / [[blockedJaccardPairs]]).
    * Output: (doc_id, cluster_id, cluster_size) for every doc that appears
    * in at least one pair, ascending doc_id.
    *
    * Algorithm: min-label propagation — iterate "label := min(label,
    * neighbors' labels)" to fixpoint. Each iteration is one shuffle join +
    * one partial-aggregated groupBy on (id), so an iteration costs what a
    * big equi-join costs; the iteration COUNT is bounded by the longest
    * min-label path in a component. Near-dup components are stars/cliques
    * around a canonical text (diameter ≤ 2-3), so 3-4 iterations close even
    * a 100 TB corpus; a convergence check stops early. If `maxIter` rounds
    * pass without convergence (a pathological chain-of-dups graph whose
    * diameter exceeds the bound), the computation automatically RESTARTS
    * on [[alternatingComponents]] — the large-star/small-star scheme,
    * which contracts path length geometrically and closes any graph in
    * O(log n) rounds — so no input shape returns a partial clustering or
    * an error. */
  def dupClusters(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // symmetrize with ONE explode pass, not a self-union: the union's two
    // branches would each evaluate `pairs` — typically a whole near-dup
    // pipeline — twice (no cross-branch CSE in Catalyst).
    // Hash-partitioned by src ONCE before the persist (the pageRank
    // partition-once discipline, Graph.scala): every propagation round
    // joins edges on src, so pre-partitioning makes each round's join
    // one-sided — only the node-sized label table moves, the edge-sized
    // side never re-shuffles.
    val edges = CacheRegistry.track(pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src")))
    // seed with the 1-hop min already folded in (label = min(self,
    // neighbors)) — same single shuffle a plain distinct() would cost,
    // one fewer propagation round.
    // Local (block-manager) checkpoints trade executor-loss tolerance
    // for speed — on a dynamic-allocation cluster, configure a
    // checkpoint dir and swap in Dataset.checkpoint. Freed by the
    // ContextCleaner once unreferenced (row footprint is one (id,label)
    // pair per incident doc).
    val seed = edges.groupBy(col("src").as("id"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .localCheckpoint(eager = false)
    // rounds-as-data: the scale argument for this operator is its round
    // count (∝ diameter here, log n in the fallback), so it is recorded
    // as cc_prop_rounds where the bench JSON picks it up
    val prop = Fixpoint.iterate(pairs.sparkSession, "cc_prop_rounds", seed, maxIter) { (prev, _) =>
      // a node's next label: min over itself and all neighbors' labels.
      // SHUFFLE_HASH on the node-sized label side (the labelPropagation
      // lesson, Graph.scala): a sort-merge join would re-sort the
      // edge-sized side every round; hashing the small side streams the
      // pre-partitioned edges unsorted and exchange-free.
      val msgs = edges
        .join(prev.withColumnRenamed("id", "src").hint("SHUFFLE_HASH"), Seq("src"))
        .select(col("dst").as("id"), col("label"))
      // the convergence count materializes next's (lazy) checkpoint and
      // runs the comparison in the same job (labels only ever decrease,
      // so changed ⇔ label < old)
      val next = prev.unionByName(msgs)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .localCheckpoint(eager = false)
      val changed = next
        .join(prev.withColumnRenamed("label", "old"), "id")
        .filter(col("label") < col("old")).count()
      if (changed == 0L) Fixpoint.Done(next) else Fixpoint.Next(next)
    }
    // component diameter exceeded the propagation bound (chain-shaped
    // graph) — restart on the O(log n)-round alternating scheme
    val labels = if (prop.converged) prop.state else alternatingComponents(edges)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Connected components by alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SOCC'14): each round rewires every node toward its neighborhood
    * minimum, halving component diameter, so even a pure path graph
    * closes in O(log n) rounds — the scale-safe fallback for graphs
    * where min-label propagation (cost ∝ diameter) doesn't converge.
    * Input: directed edge frame (src, dst), either orientation, no
    * self-loops required. Output: (id, label = component min) for every
    * node incident to an edge. Each round is a fused large∘small-star
    * pass costing TWO exchanges total (see [[orientedMin]] /
    * [[starEmissions]]); convergence is checked with an exact
    * anti-join, not a hash heuristic. Rounds are localCheckpoint'd for
    * the plan-growth reason [[graft.util.Fixpoint]] states. */
  def alternatingComponents(edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    // r19 round restructure. The textbook round as two independent
    // operators cost ~5-7 exchanges and 3 actions (round, count,
    // anti-join): each star paid its own groupBy exchange, its own join
    // exchange, and its own output distinct. This loop costs TWO
    // exchanges and TWO actions per round:
    //  1. The symmetrized view is hash-partitioned by u ONCE
    //     (`repartition`), and BOTH consumers — the per-u min aggregation
    //     and the min⋈neighbors join — reuse that single exchange (AQE
    //     reuses the canonically-identical shuffle stage).
    //  2. Large-star output satisfies src > dst BY CONSTRUCTION
    //     (src = v > u ≥ m = dst), so small-star's large→small
    //     orientation (greatest/least + ≠-filter) is the identity on it
    //     and is dropped; ONE `repartition(src)` exchange serves the
    //     small-star dedup, groupBy, and join alike (hashpartitioning
    //     on src co-locates equal (src,dst) pairs).
    //  3. The deduped oriented frame `dir` — not the round's emission
    //     output — is the per-round checkpoint AND the convergence
    //     anchor: emissions are a narrow co-partitioned tail over it
    //     (join + explode, NO exchange), their duplicates are absorbed
    //     by the NEXT round's min-aggregation and dedup (min is
    //     duplicate-insensitive), and the per-round output distinct —
    //     a full extra shuffle in the textbook form — disappears; ONE
    //     distinct runs after the fixpoint instead of one per round.
    //  4. Convergence: dir is a pure function of the SET of the
    //     previous round's emissions, so dir_t == dir_{t-1} ⇔ the edge
    //     sets are stable ⇔ fixpoint (detected one round later than
    //     comparing raw edge sets, for two fewer jobs per round). The
    //     check is exact — count equality + an anti-join over the two
    //     co-partitioned checkpoints.
    //  5. SHUFFLE_HASH on the aggregated per-node min sides: a
    //     sort-merge join would sort the edge-sized side on both star
    //     steps every round; hashing the small side streams it
    //     unsorted. (At bench SF the planner auto-broadcasts these
    //     node-sized sides; at scale the hint keeps the co-partitioned
    //     zero-exchange shape instead of falling back to SMJ.)
    // The fixpoint star forest is IDENTICAL to the textbook form's (the
    // dedup boundaries moved, never any edge set) — t34's oracle gates
    // the complete labeling.
    // state: (raw emissions, previous round's (dir, count)); the count
    // materializes dir's lazy cut in the same job (2 actions per round,
    // not 3) and the anti-join then reads its blocks
    val init = (edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst")),
      Option.empty[(DataFrame, Long)])
    val alt = Fixpoint.iterate(edges.sparkSession, "cc_alt_rounds", init, maxRounds + 1) { case ((raw, prev), _) =>
      val dir = orientedMin(raw).localCheckpoint(eager = false)
      val dirCount = dir.count()
      val stable = prev.exists { case (dirPrev, prevCount) =>
        dirCount == prevCount && dir.join(dirPrev, Seq("src", "dst"), "left_anti").isEmpty
      }
      if (stable) Fixpoint.Done((raw, prev))
      else Fixpoint.Next((starEmissions(dir), Some((dir, dirCount))))
    }
    require(alt.converged, s"alternatingComponents did not stabilize in $maxRounds rounds")
    val raw = alt.state._1
    // fixed point is a star forest rooted at component minima: distinct
    // the (multiset) emissions ONCE, then every non-root appears as src
    // exactly once and roots label themselves
    val fix = raw.distinct()
    val roots = fix.select(col("dst").as("id"), col("dst").as("label")).distinct()
    fix.select(col("src").as("id"), col("dst").as("label"))
      .unionByName(roots)
  }

  /** Large-star half of one alternating round over the (multiset)
    * emission frame `raw`: the deduped large→small oriented edge set,
    * hash-partitioned by src — the per-round checkpoint and convergence
    * anchor: the first half of the loop's step, before its cut. */
  private def orientedMin(raw: DataFrame): DataFrame = {
    // large-star: for each u, connect every LARGER neighbor to
    // m = min({u} ∪ N(u)) — symmetrized view; duplicates in `raw`
    // are harmless here (min ignores them) and removed by the dedup
    val sym = raw
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("p"))
      .select(col("p.src").as("u"), col("p.dst").as("v"))
      .repartition(col("u"))
    val mins = sym.groupBy(col("u")).agg(least(col("u"), min(col("v"))).as("m"))
    sym.join(mins.hint("SHUFFLE_HASH"), "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("src"), col("m").as("dst"))
      .repartition(col("src")).dropDuplicates("src", "dst")
  }

  /** Small-star half over the checkpointed oriented frame: connect
    * every smaller neighbor (and src itself) to m = min(N(src)).
    * Everything is co-partitioned on src — NO exchange — and the
    * output is a multiset (the next round's [[orientedMin]] dedups). */
  private def starEmissions(dir: DataFrame): DataFrame = {
    val mins2 = dir.groupBy(col("src")).agg(min(col("dst")).as("m"))
    dir.join(mins2.hint("SHUFFLE_HASH"), "src")
      .select(explode(array(
        struct(col("dst").as("src"), col("m").as("dst")),
        struct(col("src"), col("m").as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** Exact pairwise Jaccard restricted to an explicit blocking column —
    * the right tool when the domain has a natural partition (source,
    * language, time bucket) that near-dups can't cross.
    *
    * Computed as a count-based set-similarity join, not a per-pair array
    * merge: explode shingles, self-join on (block, shingle) — meeting only
    * pairs that SHARE a shingle — then |A∩B| falls out of the pair's group
    * count and |A∪B| = |A|+|B|−|A∩B|. Lossless (a pair sharing zero
    * shingles has Jaccard 0), and the block-cartesian never materializes:
    * cost scales with Σ_groups g² over (block, shingle) co-occurrence
    * groups, not with block². The size-ratio prune
    * (J ≤ min(|A|,|B|)/max(|A|,|B|), so J ≥ t ⇒ sizes within ×t) drops
    * length-mismatched pairs inside the join condition. */
  def blockedJaccardPairs(
      docs: DataFrame,
      blockCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.3): DataFrame = {
    // persisted: the self-join would otherwise recompute the shingle
    // explosion once per side (no cross-branch CSE in Catalyst)
    val ex = CacheRegistry.track(withShingles(docs, shingleSize)
      .select(col(blockCol).as("blk"), col("doc_id"),
        size(col("shingles")).as("sz"), explode(col("shingles")).as("sh")))
    ex.as("x").join(ex.as("y"),
        col("x.blk") === col("y.blk") && col("x.sh") === col("y.sh") &&
          col("x.doc_id") < col("y.doc_id") &&
          col("x.sz") >= col("y.sz") * threshold &&
          col("y.sz") >= col("x.sz") * threshold)
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.sz").as("sza"), col("y.sz").as("szb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Asymmetric CONTAINMENT near-dups (Broder, "On the resemblance and
    * containment of documents", SEQUENCES 1997 §2 — the neglected half
    * of the resemblance/containment pair every Jaccard dedup implements
    * only one side of): c(A,B) = |S(A)∩S(B)| / |S(A)| finds documents
    * swallowed whole by larger ones — quoted posts, boilerplate-wrapped
    * articles, aggregator pages — where Jaccard sits near |A|/|B| and
    * sails under every resemblance threshold. A pair is reported when
    * EITHER direction's containment clears `minContainment`; both
    * directions and the Jaccard ride along as data, so the asymmetry
    * is visible per pair.
    *
    * Candidates via the t48 rare-gram discipline: only shingles with
    * document frequency in [2, maxDf] generate pairs (fanout bounded by
    * df² per shingle, never n²), then the EXACT count-based verify over
    * the full shingle sets. The recall bet: a contained doc must carry
    * at least one non-ubiquitous shingle — a doc made entirely of
    * corpus-common boilerplate is exactly what the containment pass
    * exists to DROP anyway, and the oracle mirrors the blocking so the
    * bet is gated, not hidden. One shuffle keys shingle strings;
    * verify joins are id-keyed.
    *
    * Output: (doc_a, doc_b, sza, szb, inter, cont_a_in_b, cont_b_in_a,
    * jaccard), doc_a < doc_b, ordered. */
  def containmentPairs(docs: DataFrame, shingleSize: Int = 3, maxDf: Int = 8,
      minContainment: Double = 0.9): DataFrame = {
    require(minContainment > 0 && minContainment <= 1,
      s"minContainment must sit in (0,1], got $minContainment")
    graft.functions.GraftExpressions.register(docs.sparkSession)
    // shingles reduce to 8-byte xxhash64 keys BEFORE any shuffle (the
    // t48/t23 discipline): the strings never reach the output, the df
    // filter, candidate join, and verify all work on the hash, and the
    // raw-string oracle's counts are identical absent a 64-bit collision
    // (which the hash gate would surface). The one persisted frame is
    // corpus-ROW-sized: one row per doc with its sorted hash array (sz
    // stays the distinct-STRING count, the oracle's denominator).
    val docsArr = CacheRegistry.track(withShingles(docs, shingleSize)
      .select(col("doc_id"), size(col("shingles")).as("sz"),
        array_sort(transform(col("shingles"), s => xxhash64(s))).as("shs")))
    // exploded view for the df table + rare-shingle candidate join only
    // (re-derived from the cached docsArr — a cheap explode, never cached)
    val ex = docsArr.select(col("doc_id"), explode(col("shs")).as("sh"))
    // rare is persisted, so it materializes ONCE under the self-join
    // (r19): the two self-join branches would otherwise each evaluate
    // the whole explode → df-agg → join subtree (no cross-branch CSE —
    // the r18 plan carried 2 Generate+Exchange explode passes, 2 df
    // aggregates, and 4 SMJ sorts of the shingle-exploded frame; AQE's
    // exchange reuse dedups the identical shuffles at runtime but NOT
    // the sorts). rare is small by construction — ≤ maxDf rows per
    // rare shingle — so the cache is candidate-scale, not corpus-scale;
    // SHUFFLE_HASH keeps the tiny candidate self-join sort-free.
    // SHUFFLE_HASH on the filtered-shingle side: it is rare-shingle-
    // sized, while a sort-merge join would sort the FULL exploded
    // frame — the corpus-scale side — to join it.
    val rare = CacheRegistry.track(ex.join(
      ex.groupBy(col("sh")).agg(count(lit(1)).as("_df"))
        .filter(col("_df") >= 2 && col("_df") <= maxDf)
        .select(col("sh"))
        .hint("SHUFFLE_HASH"),
      "sh"))
    // persisted: referenced by the doc_b build-side filter AND the
    // first verify join — unpersisted, the candidate self-join would
    // run twice (no cross-branch CSE)
    val cand = CacheRegistry.track(rare.as("x").join(rare.as("y").hint("SHUFFLE_HASH"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct())
    // Verify shape, taught by the 300× sweep in three steps (each
    // earlier form DIED a decade in, single-run local[32] readings):
    //  1. SMJ verify joins over the exploded pairs × shingles frame:
    //     the sorter spill on that one super-linear intermediate filled
    //     the machine's 79 GB scratch volume at 300× (956 s, killed).
    //     SHUFFLE_HASH instead measured 267.5 s vs 472.2 s at 100×.
    //  2. SHUFFLE_HASH with a corpus-shingle build side: "not enough
    //     memory to build hash map" at 300× — all 32 partitions build
    //     concurrently and the per-partition slice grows with the
    //     corpus at a fixed partition count; even semi-filtered to
    //     candidate docs (359.1 s at 100×) the EXPLODED build side
    //     still outgrew the pool a decade later.
    //  3. This form: no exploded frame exists at all. Candidate pairs
    //     join per-doc sorted hash ARRAYS — both verify frames are
    //     candidate-row-sized (cand builds side one; docsArr
    //     semi-filtered to candidate doc_bs builds side two), and
    //     |A∩B| is one codegen'd merge pass per pair
    //     (graft_inter_sorted), so the count groupBy — the shuffle
    //     that carried the super-linear frame — disappears.
    val arrB = docsArr
      .join(cand.select(col("doc_b").as("doc_id")).distinct().hint("SHUFFLE_HASH"),
        Seq("doc_id"), "left_semi")
    cand.hint("SHUFFLE_HASH")
      .join(docsArr.select(col("doc_id").as("doc_a"), col("sz").as("sza"),
        col("shs").as("sha")), "doc_a")
      .join(arrB.select(col("doc_id").as("doc_b"), col("sz").as("szb"),
        col("shs").as("shb")).hint("SHUFFLE_HASH"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("sza"), col("szb"),
        expr("graft_inter_sorted(sha, shb)").as("inter"))
      .withColumn("cont_a_in_b", col("inter").cast("double") / col("sza").cast("double"))
      .withColumn("cont_b_in_a", col("inter").cast("double") / col("szb").cast("double"))
      .withColumn("jaccard", col("inter").cast("double")
        / (col("sza") + col("szb") - col("inter")).cast("double"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("sza"), col("szb"), col("inter"),
        col("cont_a_in_b"), col("cont_b_in_a"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Number of hash bits in a SimHash signature. 63, not 64: the token
    * hash is assembled from two md5 halves as (hi mod 2³¹)·2³² + lo so it
    * stays non-negative in every engine's signed-64 arithmetic — the
    * property that makes the whole signature pipeline (bit tests, sign
    * sums, packing, XOR popcount) expressible in portable SQL and lets
    * the driver oracle-check t08 in DuckDB. Bit 63 is structurally zero
    * on both sides. */
  val SimhashBits = 63

  /** SimHash per document: tf-weighted sign-sum of token-hash bits,
    * packed into one LONG. Output: (doc_id, simhash).
    *
    * The token hash is md5-derived (two 32-bit hex halves), not
    * xxhash64: cross-engine reproducibility is a design goal of every
    * dedup signature here (audits re-compute signatures in SQL engines),
    * and md5 is the one hash every engine computes identically. A
    * deployment that never audits cross-engine can swap xxhash64 back
    * for ~30% cheaper signing — the banding and sign-sum are unchanged. */
  def simhashes(docs: DataFrame): DataFrame = {
    val hi = conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long") % 2147483648L
    val lo = conv(substring(md5(col("token")), 9, 8), 16, 10).cast("long")
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("th", hi * 4294967296L + lo)
    val bitSums = (0 until SimhashBits).map { b =>
      sum(when(shiftrightunsigned(col("th"), b).bitwiseAND(lit(1L)) === 1L, col("tf"))
        .otherwise(-col("tf"))).as(s"b$b")
    }
    val packed = (0 until SimhashBits)
      .map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    tf.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ maxHamming (default 3),
    * blocked on 4×16-bit bands: any pair within distance 3 must agree on
    * at least one band, so the self-join never goes O(n²). */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // persisted: referenced by 4 union branches × 2 self-join sides — 8
    // recomputations of the signature aggregation without it (measured 21s
    // vs 2.5s for one pass at sf0.1)
    val sh = CacheRegistry.track(simhashes(docs))
    val banded = (0 until 4)
      .map(b => sh.select(col("doc_id"), col("simhash"), lit(b).as("band_idx"),
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xffffL)).as("band_val")))
      .reduce(_ unionByName _)
    banded.as("x")
      .join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03): hash every `k`-token gram, slide a `w`-hash window, and
    * keep each window's minimum (rightmost on ties) — the selected
    * (position, hash) pairs are the document's fingerprints. The paper's
    * guarantee: any match of at least `w + k − 1` tokens between two
    * documents shares at least one fingerprint, while only ~2/(w+1) of
    * positions are kept — the sub-linear representative set MOSS-style
    * local-similarity detection joins on, complementing the global
    * MinHash/SimHash sketches with position-aware local matching.
    *
    * Gram hashes use the portable fold, so selection is replayable in
    * SQL. Entirely per-row array HOFs (gram hash, window argmin,
    * distinct) — scan speed, zero shuffle, any corpus size. The window
    * argmin seeds with the window's FIRST position and folds over the
    * rest, so a short tail window (m < w grams) degrades to min-of-all
    * exactly like the paper's prefix handling.
    *
    * Output: (doc_id, pos, fp) per selected fingerprint, 1-based gram
    * position; docs with fewer than `k` tokens have no grams and emit
    * nothing. */
  def winnowFingerprints(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(w > 1, s"w must exceed 1, got $w")
    val base = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_sp"))
      .withColumn("_m", size(col("_sp")) - lit(k) + lit(1))
      .filter(col("_m") >= 1)
      .withColumn("_hs", transform(sequence(lit(1), col("_m")), j =>
        Sampling.portableFingerprint(concat_ws(" ", slice(col("_sp"), j, lit(k))))))
    // window at i spans grams [i, min(i+w-1, m)]; rightmost-min via <=
    val sel = array_distinct(transform(
      sequence(lit(1), greatest(lit(1), col("_m") - lit(w) + lit(1))), i =>
        aggregate(
          sequence(i, least(i + lit(w) - lit(1), col("_m"))), i,
          (acc, j) => when(
            element_at(col("_hs"), j) <= element_at(col("_hs"), acc), j).otherwise(acc))))
    base
      .withColumn("pos", explode(sel))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        element_at(col("_hs"), col("pos")).cast("long").as("fp"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Edit-distance-verified near-duplicate pairs: rare-shingle blocking
    * followed by exact Levenshtein verification. The character-level
    * member of the near-dup verifier family — token-set Jaccard
    * ([[minhashNearDups]]) under-scores the "many small scattered edits"
    * duplicate class (each edit kills `shingleSize` shingles), while
    * normalized edit similarity `1 − lev/max(len)` degrades linearly in
    * the number of edited characters, which is why plagiarism/clone
    * detectors verify with edit distance.
    *
    * Blocking: candidate pairs are documents sharing at least one RARE
    * word `gramSize`-gram — document frequency in [2, maxDf]. Two
    * documents within edit similarity `minSim` share long untouched
    * stretches, hence (absent pathological gram popularity) a rare gram;
    * capping df at `maxDf` bounds the per-gram fanout at maxDf² pairs, so
    * candidate volume stays O(true pairs), never O(n²) — the standard
    * blocking trade (recall loss only when every shared gram is
    * boilerplate-popular). Grams are reduced to 8-byte xxhash64 keys
    * before anything shuffles (the [[ngramContamination]] discipline);
    * raw text crosses the wire only for verified candidates, joined back
    * per side.
    *
    * Verification: a length prefilter `|lenA − lenB| ≤ (1−minSim)·maxLen
    * + 1` (semantics-free: Levenshtein ≥ length difference, and the +1
    * slack keeps float rounding strictly conservative) then one exact
    * `levenshtein` per survivor — Spark's codegen'd DP. At deployment
    * scale the banded threshold variant (`levenshtein(a, b, k)`, early
    * exit past k edits) bounds the DP stripe; at these document lengths
    * the full DP on the blocked candidate set is already sub-second.
    * Levenshtein here counts code points (= DuckDB v1.0's bytes on the
    * all-ASCII fixture; a non-ASCII corpus audits with a byte-level
    * mirror or normalizes first).
    *
    * Output: (doc_a, doc_b, lev, edit_sim) for pairs with
    * `edit_sim ≥ minSim`, deterministic order. */
  def editDistanceNearDups(docs: DataFrame, gramSize: Int = 8,
      maxDf: Int = 8, minSim: Double = 0.8): DataFrame = {
    require(gramSize > 0, s"gramSize must be positive, got $gramSize")
    require(maxDf >= 2, s"maxDf must be at least 2, got $maxDf")
    require(minSim > 0.0 && minSim <= 1.0, s"minSim must be in (0, 1], got $minSim")
    // persisted: feeds the df aggregation and both self-join sides
    graft.functions.GraftExpressions.register(docs.sparkSession)
    // codegen'd distinct grams (graft_shingles = sorted-distinct
    // variant; every consumer below is set-based, so the order change
    // vs array_distinct(ngramsAll(...)) is immaterial)
    val grams = CacheRegistry.track(docs
      .select(col("doc_id"),
        explode(call_function("graft_shingles", col("text"), lit(gramSize))).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("gh")))
    val rare = grams.groupBy(col("gh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("gh"))
    val blocked = grams.join(rare, "gh")
    val cand = blocked.as("x").join(blocked.as("y"),
        col("x.gh") === col("y.gh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val texts = docs.select(col("doc_id"), col("text"),
      length(col("text")).cast("long").as("len"))
    cand
      .join(texts.select(col("doc_id").as("doc_a"), col("text").as("_ta"),
        col("len").as("_la")), Seq("doc_a"))
      .join(texts.select(col("doc_id").as("doc_b"), col("text").as("_tb"),
        col("len").as("_lb")), Seq("doc_b"))
      .withColumn("_ml", greatest(col("_la"), col("_lb")))
      .filter(abs(col("_la") - col("_lb")) <=
        (lit(1.0) - lit(minSim)) * col("_ml") + lit(1.0))
      .withColumn("lev", levenshtein(col("_ta"), col("_tb")).cast("long"))
      .withColumn("edit_sim",
        lit(1.0) - col("lev").cast("double") / col("_ml"))
      .filter(col("edit_sim") >= minSim)
      .select(col("doc_a"), col("doc_b"), col("lev"), col("edit_sim"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Substring-level exact deduplication (ExactSubstr — Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL'22):
    * excise from every document the token spans that appear more than
    * once ANYWHERE in the corpus, keeping the rest of the document. The
    * published recipe uses a suffix array over the concatenated corpus;
    * the distributed equivalent here marks every `spanTokens`-gram whose
    * corpus-wide occurrence count exceeds 1 and removes the token
    * positions they cover — the covered set is exactly the set of
    * positions lying inside SOME duplicated substring of ≥ spanTokens
    * tokens (any such substring's constituent grams are each duplicated,
    * and any duplicated gram is itself such a substring), so the
    * semantics match ExactSubstr with the paper's length threshold at
    * token grain.
    *
    * Shape: one shuffle counts gram occurrences (grams reduced to 8-byte
    * xxhash64 keys — occurrences, not per-doc-distinct: within-document
    * repeats duplicate too); duplicated starts explode into their
    * `spanTokens` covered positions; a per-document window over the
    * covered positions counts maximal excised runs (gaps-and-islands —
    * partitions are per-doc and bounded by document length); one
    * doc_id-keyed aggregation rebuilds the kept text in original token
    * order (the [[graft.operators.Cleaning.cleanPages]] idiom — in-group
    * array sort, no global sort). Nothing is O(n²) and raw grams never
    * shuffle.
    *
    * Output per non-empty document: (doc_id, n_tokens, n_dup_starts,
    * n_spans_removed, n_removed_tokens, clean_text) — clean_text is the
    * kept tokens single-space-joined (token-grain excision, as in the
    * paper; original inter-token whitespace is not preserved). */
  def exciseRepeatedSpans(docs: DataFrame, spanTokens: Int = 8): DataFrame = {
    require(spanTokens > 1, s"spanTokens must exceed 1, got $spanTokens")
    graft.functions.GraftExpressions.register(docs.sparkSession)
    val base = docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("_sp"))
      .filter(size(col("_sp")) > 0)
    // duplicated gram starts, 0-based token positions; gram
    // construction is the codegen'd graft_ngrams (order-preserving,
    // so posexplode's start indices are unchanged)
    val starts = CacheRegistry.track(base
      .select(col("doc_id"),
        posexplode(call_function("graft_ngrams", col("text"), lit(spanTokens)))
          .as(Seq("start", "gram")))
      .select(col("doc_id"), col("start").cast("long").as("start"),
        xxhash64(col("gram")).as("gh")))
    val dupGh = starts.groupBy(col("gh")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") > 1)
      .select(col("gh"))
    val dupStarts = CacheRegistry.track(
      starts.join(dupGh, "gh").select(col("doc_id"), col("start")))
    val covered = dupStarts
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + lit(spanTokens - 1))).as("pos"))
      .distinct()
    val prev = lag(col("pos"), 1).over(
      Window.partitionBy(col("doc_id")).orderBy(col("pos")))
    val islands = covered
      .select(col("doc_id"),
        when(prev.isNull || col("pos") > prev + 1, 1L).otherwise(0L).as("_st"))
      .groupBy(col("doc_id")).agg(sum(col("_st")).as("n_spans_removed"))
    val dupStartCounts = dupStarts.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_starts"))
    val toks = base
      .select(col("doc_id"), posexplode(col("_sp")).as(Seq("_p", "tok")))
      .select(col("doc_id"), col("_p").cast("long").as("pos"), col("tok"))
    val stats = toks
      .join(covered.withColumn("_cov", lit(true)), Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("_cov"), 1L).otherwise(0L)).as("n_removed_tokens"),
        array_join(transform(array_sort(collect_list(
          when(col("_cov").isNull, struct(col("pos"), col("tok"))))),
          s => s.getField("tok")), " ").as("clean_text"))
    stats
      .join(dupStartCounts, Seq("doc_id"), "left")
      .join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_starts"), lit(0L)).as("n_dup_starts"),
        coalesce(col("n_spans_removed"), lit(0L)).as("n_spans_removed"),
        col("n_removed_tokens"), col("clean_text"))
      .orderBy(col("doc_id"))
  }
}
