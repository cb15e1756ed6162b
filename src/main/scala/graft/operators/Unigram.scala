package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{GraftExpressions, TextFunctions}

/** Unigram-LM tokenizer family (the SentencePiece unigram model — Kudo,
  * "Subword Regularization", ACL 2018): the second of the two dominant
  * subword tokenizer algorithms, complementing [[Bpe]]. Where BPE builds
  * a vocabulary bottom-up by merging, the unigram model starts from a
  * large candidate piece set, scores pieces as an independence LM, and
  * decodes by Viterbi (max-probability segmentation).
  *
  * Scale shape (the [[Bpe]] discipline): every step after the first runs
  * on the distinct-WORD frequency table, vocabulary-sized — the corpus
  * is scanned once. Candidate-piece counting is one hash-shuffle on the
  * piece string (bounded by words × len × maxPieceLen); top-K selection
  * is `TakeOrderedAndProject` (per-partition heaps + driver merge, never
  * a global sort); Viterbi decode is one codegen'd expression call per
  * word ([[graft.functions.UnigramEncode]] — the whole lattice inside
  * the generated loop). The piece table itself is collected to the
  * driver: it is the tokenizer artifact (vocab-sized by construction,
  * the same class as BPE's merge list), not a data path.
  *
  * Learning is Viterbi-EM (hard EM): re-segment under the current table,
  * recount pieces from the actual segmentations, reselect — the
  * deterministic simplification of Kudo's full EM+pruning loop (forward–
  * backward expected counts replaced by Viterbi counts). Single
  * characters are never pruned and their counts floor at 1, so coverage
  * is total by construction.
  */
object Unigram {

  /** One vocabulary entry: the piece, its (weighted) count under the
    * selection that produced it, and `logp = ln(cnt / total)`. */
  final case class Piece(piece: String, cnt: Long, logp: Double)

  /** Distinct-word frequency table: (word, wfreq). The one corpus-sized
    * step; everything downstream is vocabulary-sized. */
  def wordFrequencies(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      // \s+ split (not single-space): tab/newline must never survive into
      // a word, because pieces derived from words travel through the
      // tab/newline-separated piece-spec wire format — a single-space
      // split would abort encodePieces on arbitrary text instead of
      // degrading gracefully. Equal to tokens() on the space-only fixture.
      .select(explode(TextFunctions.wsTokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wfreq"))

  /** Weighted occurrence counts of EVERY substring of length
    * 1..maxPieceLen across the word table — each occurrence position
    * counts, weighted by word frequency. One explode + one hash-shuffle
    * on the piece. */
  def substringCounts(words: DataFrame, maxPieceLen: Int): DataFrame =
    substringCountsBy(words, maxPieceLen, (_, sub) => sub)

  /** [[substringCounts]] with a caller-supplied piece mapping over
    * (start position, substring) — ONE definition of the substring
    * enumeration and its shuffle shape, shared with WordPiece's
    * position-CLASSED counts (bare at position 1, `##`-prefixed after):
    * a fix to the enumeration bounds applies to both tokenizer
    * families. */
  private[operators] def substringCountsBy(words: DataFrame, maxPieceLen: Int,
      piece: (Column, Column) => Column): DataFrame = {
    val subs = flatten(transform(sequence(lit(1), length(col("word"))), p =>
      transform(
        sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - p + 1)),
        l => piece(p, col("word").substr(p, l)))))
    words
      .select(explode(subs).as("piece"), col("wfreq"))
      .groupBy(col("piece")).agg(sum(col("wfreq")).as("cnt"))
  }

  /** Selects the seed/serving vocabulary from raw substring counts: the
    * `vocabSize` highest-count pieces (ties broken by piece value) UNION
    * every single character (coverage floor). Top-K runs as
    * `TakeOrderedAndProject`; the single-character set is alphabet-sized.
    * `logp = ln(cnt / total)` over the selected total — the division
    * happens in doubles before the log on both engines, so the SQL
    * oracle reproduces every bit. */
  def selectPieces(docs: DataFrame, textCol: String = "text",
      vocabSize: Int = 40, maxPieceLen: Int = 3): Seq[Piece] =
    selectFromWords(wordFrequencies(docs, textCol), vocabSize, maxPieceLen)

  /** [[selectPieces]] over an already-built word table — the entry point
    * [[learn]] uses so its cached word frequencies feed the seed
    * selection too (one corpus scan total, per the object contract). */
  def selectFromWords(words: DataFrame,
      vocabSize: Int, maxPieceLen: Int): Seq[Piece] = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    require(maxPieceLen > 1, s"maxPieceLen must exceed 1, got $maxPieceLen")
    val cnts = graft.util.CacheRegistry.track(substringCounts(words, maxPieceLen))
    val top = cnts
      .orderBy(col("cnt").desc, col("piece"))
      .limit(vocabSize)
      .collect()
    val singles = cnts
      .filter(length(col("piece")) === 1)
      .collect()
    val merged = (top ++ singles)
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("cnt")))
      .distinct
    withLogp(merged)
  }

  /** Recomputes logp over a (piece, cnt) set: `ln(cnt / total)`. */
  private def withLogp(entries: Seq[(String, Long)]): Seq[Piece] = {
    val total = entries.map(_._2).sum
    entries
      .sortBy { case (p, c) => (-c, p) }
      .map { case (p, c) => Piece(p, c, math.log(c.toDouble / total.toDouble)) }
  }

  private def pieceSpec(vocab: Seq[Piece]): String =
    GraftExpressions.encodePieces(vocab.map(p => (p.piece, p.logp)))

  /** Viterbi-segments every distinct word under a fixed piece table.
    * Output: (word, wfreq, n_pieces, encoded) with pieces '|'-joined,
    * deterministic word order. One expression call per word — scan
    * speed over the vocabulary-sized word table. */
  def encodeWords(docs: DataFrame, vocab: Seq[Piece],
      textCol: String = "text"): DataFrame = {
    GraftExpressions.register(docs.sparkSession)
    wordFrequencies(docs, textCol)
      .withColumn("_ps",
        call_function("graft_unigram_encode", col("word"), lit(pieceSpec(vocab))))
      .select(col("word"), col("wfreq"),
        size(col("_ps")).cast("long").as("n_pieces"),
        array_join(col("_ps"), "|").as("encoded"))
      .orderBy(col("word"))
  }

  /** Viterbi-EM unigram learning: seed with the `seedMultiplier ×
    * vocabSize` highest-count substrings (plus all single characters),
    * then for each round (1) re-segment the word table under the current
    * vocabulary, (2) recount pieces from the segmentations (weighted by
    * word frequency — one vocab-sized aggregate collected per round, the
    * BPE per-merge-argmax class), (3) keep the `vocabSize` highest-count
    * pieces plus all singles (floored at count 1) and refresh logp.
    * Pieces that stop being used fall out; the loop is deterministic
    * end-to-end. */
  def learn(docs: DataFrame, vocabSize: Int = 40, maxPieceLen: Int = 3,
      rounds: Int = 3, seedMultiplier: Int = 4,
      textCol: String = "text"): Seq[Piece] = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    require(seedMultiplier >= 1, s"seedMultiplier must be >= 1, got $seedMultiplier")
    GraftExpressions.register(docs.sparkSession)
    val words = graft.util.CacheRegistry.track(wordFrequencies(docs, textCol))
    val singles = words
      .select(explode(transform(sequence(lit(1), length(col("word"))),
        p => col("word").substr(p, lit(1)))).as("piece"))
      .distinct().collect().map(_.getString(0)).toSet
    var vocab = selectFromWords(words, vocabSize * seedMultiplier, maxPieceLen)
    var r = 0
    while (r < rounds) {
      val counts = words
        .withColumn("_p", explode(
          call_function("graft_unigram_encode", col("word"), lit(pieceSpec(vocab)))))
        .groupBy(col("_p")).agg(sum(col("wfreq")).as("cnt"))
        .collect()
        .map(row => (row.getString(0), row.getAs[Long]("cnt")))
        .toMap
      val top = counts.toSeq
        .sortBy { case (p, c) => (-c, p) }
        .take(vocabSize)
      val keptSingles = singles.toSeq.sorted
        .map(s => (s, math.max(counts.getOrElse(s, 0L), 1L)))
      vocab = withLogp((top ++ keptSingles).distinct
        .groupBy(_._1).map { case (p, cs) => (p, cs.map(_._2).max) }.toSeq)
      r += 1
    }
    vocab
  }
}
