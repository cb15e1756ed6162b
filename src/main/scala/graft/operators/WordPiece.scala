package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftExpressions

/** WordPiece tokenization (Wu et al. 2016 §4.1; the BERT vocabulary
  * convention) — the third tokenizer family beside BPE
  * ([[graft.operators.Bpe]]) and unigram ([[graft.operators.Unigram]]).
  * Unlike those two, WordPiece segments by greedy LONGEST-MATCH-FIRST
  * against a position-classed vocabulary: word-initial pieces are stored
  * bare, continuation pieces carry the `##` prefix.
  *
  * The vocabulary here is selected deterministically from position-
  * classed substring counts (the [[Unigram.selectPieces]] discipline
  * applied per class): a substring starting at a word's first character
  * counts toward the bare piece, any other start counts toward the
  * `##`-prefixed piece, each weighted by word frequency. The
  * `vocabSize` highest-count pieces are kept PLUS every single-character
  * piece of both classes (the coverage floor — encode can never hit
  * `[UNK]` on the corpus the vocabulary was selected from, so the whole
  * select+encode pipeline is a pure function of the corpus and the
  * oracle replays it end to end; `[UNK]` remains the serving-time
  * fallback for out-of-corpus characters, unit-tested directly).
  *
  * Scale shape: selection is one corpus scan → distinct-word table
  * (vocabulary-sized) → one explode + hash-shuffle on the classed piece
  * → bounded top-K; encode is one codegen'd expression call per
  * distinct word ([[graft.functions.WordPieceEncode]] — the greedy loop
  * runs inside whole-stage codegen against a broadcast hash set).
  */
object WordPiece {

  /** Position-classed weighted substring counts: (piece, cnt) where
    * word-initial substrings are bare and others carry `##` — the
    * shared [[Unigram.substringCountsBy]] enumeration with the classed
    * piece mapping. */
  def classedCounts(words: DataFrame, maxPieceLen: Int): DataFrame =
    Unigram.substringCountsBy(words, maxPieceLen, (p, sub) =>
      when(p === 1, sub).otherwise(concat(lit("##"), sub)))

  /** Deterministic vocabulary: the `vocabSize` highest-count classed
    * pieces (ties to the lexicographically smaller piece) UNION every
    * single-character piece of both classes, (cnt desc, piece) order. */
  def selectVocab(docs: DataFrame, vocabSize: Int = 40,
      maxPieceLen: Int = 4, textCol: String = "text"): Seq[String] = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    require(maxPieceLen > 1, s"maxPieceLen must exceed 1, got $maxPieceLen")
    // tracked: the counts frame feeds TWO collects (top-K, then the
    // singles pass) — uncached, each re-scans the corpus and re-runs
    // the substring explode (the Unigram.selectFromWords discipline)
    val cnts = graft.util.CacheRegistry.track(
      classedCounts(Unigram.wordFrequencies(docs, textCol), maxPieceLen))
    val isSingle =
      length(col("piece")) === 1 ||
        (col("piece").startsWith("##") && length(col("piece")) === 3)
    val top = cnts.orderBy(col("cnt").desc, col("piece")).limit(vocabSize).collect()
    val singles = cnts.filter(isSingle).collect()
    (top ++ singles)
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("cnt")))
      .distinct
      .sortBy { case (p, c) => (-c, p) }
      .map(_._1)
  }

  /** One learned WordPiece merge: rank order, the pair, the merged
    * symbol (`left + right-without-##`), its likelihood score
    * `freq / (count(left) · count(right))`, and the raw pair freq. */
  final case class Merge(rank: Int, left: String, right: String,
      merged: String, score: Double, freq: Long)

  private def adjacentPairs(syms: org.apache.spark.sql.Column) =
    zip_with(
      slice(syms, lit(1), size(syms) - 1),
      slice(syms, lit(2), size(syms) - 1),
      (l, r) => struct(l.as("l"), r.as("r")))

  /** Initial WordPiece symbols of a word: first character bare, every
    * later character `##`-prefixed — the HF WordPiece trainer's start
    * state. */
  private def initialSymbols(w: org.apache.spark.sql.Column) =
    transform(sequence(lit(1), length(w)), p =>
      when(p === 1, w.substr(p, lit(1)))
        .otherwise(concat(lit("##"), w.substr(p, lit(1)))))

  /** WordPiece merge learning (the HF `WordPieceTrainer` recipe; Schuster
    * & Nakajima ICASSP 2012's likelihood criterion): per round, merge the
    * adjacent symbol pair maximizing `freq(pair) / (freq(left) ·
    * freq(right))` — BPE's argmax with the likelihood-GAIN score instead
    * of raw frequency, which is the whole difference between the two
    * learners (frequency favors common pairs; the ratio favors pairs
    * that co-occur more than their parts predict). Merged symbol = left
    * + right-without-`##`. Deterministic: the score is a double ratio of
    * exact integer counts (identical wherever the same counts meet it),
    * ties break on the pair struct ascending — the Bpe.learnMerges
    * codepoint-order contract.
    *
    * Same scale shape as BPE learning: the corpus reduces ONCE to the
    * distinct-word table; each round is two vocabulary-sized aggregates
    * (symbol counts, pair counts), a broadcast join, and a 1-row argmax
    * collect — the inherently-sequential per-merge-argmax class (t30),
    * rows-only with a single-node reference spec. Generations
    * localCheckpoint (the plan-growth lineage lesson). */
  def learnMerges(docs: DataFrame, nMerges: Int,
      textCol: String = "text"): Seq[Merge] = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    GraftExpressions.register(docs.sparkSession)
    // lazy checkpoints (the Bpe.learnMerges discipline): the plan
    // truncates immediately, the blocks materialize inside the round's
    // argmax job — one action per round instead of checkpoint + argmax,
    // and the final generation stops paying a wasted materialization.
    var words = Unigram.wordFrequencies(docs, textCol)
      .select(col("wfreq").as("n"), initialSymbols(col("word")).as("syms"))
      .localCheckpoint(eager = false)
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      val symCounts = words
        .select(explode(col("syms")).as("s"), col("n"))
        .groupBy(col("s")).agg(sum(col("n")).as("cnt"))
      val top = words
        .select(col("n"), explode(adjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p")).agg(sum(col("n")).as("freq"))
        .filter(col("freq") >= 2)
        .join(broadcast(symCounts.select(col("s").as("_l"), col("cnt").as("cl"))),
          col("p.l") === col("_l"))
        .join(broadcast(symCounts.select(col("s").as("_r"), col("cnt").as("cr"))),
          col("p.r") === col("_r"))
        // counts widen to double BEFORE the product (parity with the
        // single-node reference; the long product cannot overflow at
        // fixture scale but the double form is the ONE definition)
        .withColumn("score",
          col("freq").cast("double") / (col("cl").cast("double") * col("cr").cast("double")))
        .orderBy(desc("score"), asc("p"))
        .limit(1)
        .select(col("p.l"), col("p.r"), col("score"), col("freq"))
        .collect()
      if (top.isEmpty) done = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        val merged = a + b.stripPrefix("##")
        merges += Merge(rank, a, b, merged, top(0).getDouble(2), top(0).getLong(3))
        words = words.withColumn("syms",
          call_function("graft_merge_step", col("syms"), lit(a), lit(b), lit(merged)))
          .localCheckpoint(eager = false)
        rank += 1
      }
    }
    merges.result()
  }

  /** Greedy longest-match segmentation of every distinct word under a
    * fixed vocabulary. Output: (word, wfreq, n_pieces, encoded) with
    * pieces '|'-joined, word order — the t51 surface, so the two
    * tokenizer-decode gates are directly comparable. */
  def encodeWords(docs: DataFrame, vocab: Seq[String],
      textCol: String = "text"): DataFrame = {
    GraftExpressions.register(docs.sparkSession)
    val spec = GraftExpressions.encodeWordPieceVocab(vocab)
    Unigram.wordFrequencies(docs, textCol)
      .withColumn("_ps",
        call_function("graft_wordpiece_encode", col("word"), lit(spec)))
      .select(col("word"), col("wfreq"),
        size(col("_ps")).cast("long").as("n_pieces"),
        array_join(col("_ps"), "|").as("encoded"))
      .orderBy(col("word"))
  }
}
