package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot paths where built-in functions
  * fall short. Both participate in whole-stage codegen (`doGenCode`), so
  * they run inside the generated loop with no boxing or lambda dispatch —
  * the preference order from SURVEY §7.4: built-in > custom Expression >
  * custom operator > mapPartitions.
  */

/** 64-bit polynomial rolling hash over a string's UTF-8 bytes
  * (h = h*31 + byte, wrapping). Deterministic document fingerprint for
  * content-addressed dedup; cheaper than md5 (no allocation, codegen'd).
  */
case class RollingHash(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rolling_hash"

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 31L + (bytes(i) & 0xffL); i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long ${ev.value}_h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  ${ev.value}_h = ${ev.value}_h * 31L + ($bytes[$i] & 0xffL);
         |}
         |${ev.value} = ${ev.value}_h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

/** Dot product of two double arrays, evaluated as a tight codegen'd loop.
  * The HOF equivalent (`aggregate(zip_with(a,b,*),0d,+)`) allocates an
  * intermediate array and interprets two lambdas per element — at
  * brute-force ANN scale (|vectors| × |queries| × dim multiplications)
  * that's the entire runtime. Accumulation is a sequential left fold, so
  * results are bit-identical to DuckDB's `list_sum(list_transform(...))`.
  *
  * Length mismatch is an ERROR (ADVICE r15): it used to score over the
  * overlapping prefix, so ragged embedding data yielded plausible-looking
  * wrong cosines (norms over each full vector, dot over the prefix)
  * instead of failing. Every engine call site compares equal-width
  * vectors (same corpus, or both sides sliced to the same prefix), so
  * the check costs one branch and only fires on genuinely bad data.
  * [[graft.functions.MultiQTopKAggregate]] enforces the same rule, so
  * the fused/crossJoin branch pair stays behavior-identical.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) {
      throw new IllegalArgumentException(
        s"graft_dot: array length mismatch ($n vs ${y.numElements()}) — " +
          "ragged embedding data; dot over a silent prefix would be wrong")
    }
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_dot: array length mismatch (" + $n + " vs " +
         |    $b.numElements() + ") - ragged embedding data; dot over a " +
         |    "silent prefix would be wrong");
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Jaccard similarity |A∩B|/|A∪B| of two pre-sorted, pre-distinct string
  * arrays, via a single merge pass — no hash set, no intermediate array.
  * The naive `size(array_intersect)/size(array_union)` form allocates two
  * arrays and hashes every element per pair; at near-dup-mining scale
  * (10⁵–10⁶ candidate pairs × hundreds of shingles) this expression is
  * the difference between minutes and seconds. Inputs MUST be sorted
  * ascending and duplicate-free (see Dedup.withShingles).
  */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < nx && j < ny) {
      val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = nx + ny - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter"); val c = ctx.freshName("c")
      val union = ctx.freshName("union")
      s"""
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $nx && $j < $ny) {
         |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($c == 0) { $inter++; $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
         |int $union = $nx + $ny - $inter;
         |${ev.value} = $union == 0 ? 0.0 : ((double) $inter) / $union;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSorted =
    copy(left = l, right = r)
}

/** |A∩B| of two sorted-ascending, duplicate-free long arrays via a single
  * merge pass — the [[JaccardSorted]] discipline for HASHED shingle sets.
  * This is what lets a containment/resemblance verify run per candidate
  * PAIR over two compact arrays instead of materializing the
  * pairs × shingles exploded frame (the one super-linear intermediate of
  * the count-based verify — the t67 300× sweep killed two plan shapes,
  * sorter spill and unbounded hash build, before this form): the join
  * frames stay candidate-row-sized and the per-pair work is a tight
  * O(|A|+|B|) primitive loop inside whole-stage codegen.
  */
case class SortedLongInterCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_inter_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var inter = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { inter += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    inter
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |int $i = 0; int $j = 0; long $inter = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $inter++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $inter;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedLongInterCount =
    copy(left = l, right = r)
}

/** Banded random-hyperplane LSH signature of a double vector: band b's
  * value is the integer formed by the sign bits of planes
  * [b·bandBits, (b+1)·bandBits). The HOF formulation (nested
  * `aggregate`/`zip_with` lambdas) interprets ~numPlanes×dim lambda
  * calls per row with boxing; here the planes live as one flat primitive
  * array (seeded, derived from (numPlanes, dim) — identical to
  * `Similarity.planeLiteral`) and the whole signature is two tight
  * loops. Codegen emits a single call on the expression instance, so
  * the surrounding stage stays whole-stage-compiled.
  */
case class BandedSignature(child: Expression, numPlanes: Int, bandBits: Int)
    extends UnaryExpression {
  require(numPlanes % bandBits == 0, s"numPlanes $numPlanes not a multiple of bandBits $bandBits")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_lsh_bands"

  // Planes materialize on first row (dim isn't known until then); rows of
  // one vector column share a dim by contract. The instance is SHARED
  // across concurrent tasks (codegen embeds it via the references array),
  // so publication must be a single volatile write of a fully-built
  // object — two separate fields could let another task observe the
  // planes with a stale dim. A racing duplicate build is idempotent.
  @transient @volatile private var cached: BandedSignature.PlaneSet = _

  def computeBands(input: ArrayData): ArrayData = {
    var ps = cached
    if (ps == null) {
      val d = input.numElements()
      ps = new BandedSignature.PlaneSet(d, graft.operators.Similarity.flatPlanes(numPlanes, d))
      cached = ps
    }
    val dim = ps.dim
    val planes = ps.planes
    val n = math.min(dim, input.numElements())
    val bands = new Array[Int](numPlanes / bandBits)
    var p = 0
    while (p < numPlanes) {
      var acc = 0.0
      val off = p * dim
      var j = 0
      while (j < n) { acc += input.getDouble(j) * planes(off + j); j += 1 }
      val b = p / bandBits
      bands(b) = bands(b) * 2 + (if (acc > 0) 1 else 0)
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(bands)
  }

  override protected def nullSafeEval(input: Any): Any =
    computeBands(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bandedSig", this, classOf[BandedSignature].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.computeBands($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BandedSignature =
    copy(child = newChild)
}

object BandedSignature {
  /** Immutable (dim, planes) pair — safe to publish with one volatile write. */
  final class PlaneSet(val dim: Int, val planes: Array[Double])
}

/** Count of the most frequent element of a string array — the per-row
  * kernel of Gopher-style repetition filters (top n-gram fraction). The
  * HOF equivalent (`array_max(transform(array_distinct(g), x ->
  * size(filter(g, y -> y = x))))`) is O(n·distinct) comparisons per row
  * with two interpreted lambdas per element; this is one O(n) hash pass
  * inside whole-stage codegen, which is what keeps the repetition filter
  * at scan speed over long real-world documents. Null elements are
  * skipped; an empty array yields 0.
  */
case class ModeCount(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_mode_count"

  override protected def nullSafeEval(input: Any): Any =
    ModeCount.top(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ModeCount.top($c);")

  override protected def withNewChildInternal(newChild: Expression): ModeCount =
    copy(child = newChild)
}

object ModeCount {
  /** One hash pass over the array. Keys are the array's UTF8Strings,
    * which stay valid for the duration of the call (content-based
    * hashCode/equals, no copy). */
  def top(a: ArrayData): Long = {
    val n = a.numElements()
    val counts = new java.util.HashMap[UTF8String, Array[Int]](math.max(8, n))
    var best = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        var c = counts.get(a.getUTF8String(i))
        if (c == null) { c = new Array[Int](1); counts.put(a.getUTF8String(i), c) }
        c(0) += 1
        if (c(0) > best) best = c(0)
      }
      i += 1
    }
    best.toLong
  }
}

/** Consistent pseudonymization of linkable identifiers
  * ([[TextFunctions.pseudonymizeString]]): one compiled-regex pass, each
  * match replaced by a surrogate derived from the match's own portable
  * fold — same entity anywhere in the corpus → same surrogate, so
  * de-identified data keeps its link structure (what [[TextFunctions
  * .redact]]'s type tags destroy). A pure string→string function of the
  * row, so it runs at scan speed inside whole-stage codegen (static
  * helper call, no boxing beyond the string) with no lookup table to
  * build or leak. */
/** Host-side worker for [[ShinglesExpr]] — one manual pass per row.
  * Kept as a static object method so codegen emits a plain call. */
object ShinglesCompute {
  /** Distinct SORTED word n-gram shingles of `text` (single-space
    * tokenization, empties dropped) — bit-identical to
    * `array_sort(array_distinct(transform(seq, i -> concat_ws(" ",
    * slice(toks, i, n)))))` over `tokens(text)`, including the
    * UTF8String BINARY sort order (TreeSet over UTF8String's own
    * Comparable), but in one pass with no per-element boxing chain. */
  def compute(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = text.toString
    val toks = new java.util.ArrayList[String]()
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && s.charAt(i) == ' ') i += 1
      val start = i
      while (i < len && s.charAt(i) != ' ') i += 1
      if (i > start) toks.add(s.substring(start, i))
    }
    val m = toks.size - n + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val set = new java.util.TreeSet[UTF8String]()
    val sb = new java.lang.StringBuilder()
    var j = 0
    while (j < m) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks.get(j + k))
        k += 1
      }
      set.add(UTF8String.fromString(sb.toString))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      set.toArray(new Array[AnyRef](set.size())))
  }
}

/** Host-side worker for [[NgramsExpr]]. */
object NgramsCompute {
  /** ORDERED word n-grams with duplicates KEPT (the repetition-counting
    * unit, [[ShinglesCompute]] is the distinct/sorted variant) —
    * bit-identical to `transform(sequence(1, size(toks) − n + 1),
    * i -> concat_ws(" ", slice(toks, i, n)))` over single-space
    * tokens with empties dropped, empty array under n tokens. */
  def compute(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = text.toString
    val toks = new java.util.ArrayList[String]()
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && s.charAt(i) == ' ') i += 1
      val start = i
      while (i < len && s.charAt(i) != ' ') i += 1
      if (i > start) toks.add(s.substring(start, i))
    }
    val m = toks.size - n + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[AnyRef](m)
    val sb = new java.lang.StringBuilder()
    var j = 0
    while (j < m) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks.get(j + k))
        k += 1
      }
      out(j) = UTF8String.fromString(sb.toString)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Ordered word n-grams of a text column in ONE codegen'd pass
  * ([[NgramsCompute.compute]]) — the `graft_shingles` treatment for
  * [[TextFunctions.ngramsAll]]'s corpus-scale call sites (13-gram
  * decontamination, repeated passages, PMI bigrams): the built-in
  * transform/slice/concat_ws chain is interpreted CodegenFallback per
  * element, and gram construction is the scan stage of every
  * n-gram-decontamination operator. Output bit-identical to
  * `ngramsAll(tokens(text), n)`. */
case class NgramsExpr(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_ngrams"

  override protected def nullSafeEval(input: Any): Any =
    NgramsCompute.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NgramsCompute.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): NgramsExpr =
    copy(child = newChild)
}

/** Host-side worker for [[BigramPairsExpr]]. */
object BigramPairsCompute {
  /** Adjacent token pairs as (w1, w2) STRUCTS, ordered, duplicates
    * kept — bit-identical to `transform(sequence(1, size(sp) - 1),
    * j -> struct(sp[j-1] AS w1, sp[j] AS w2))` over `tokens(text)`
    * (single-space tokenization, empties dropped), empty array under
    * 2 tokens. The struct form skips [[NgramsCompute]]'s join-
    * with-a-space + downstream re-split when the consumer needs the
    * words separately (PMI margins, Kneser-Ney context/continuation
    * counts, TextRank co-occurrence edges). */
  def compute(text: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = text.toString
    val toks = new java.util.ArrayList[UTF8String]()
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && s.charAt(i) == ' ') i += 1
      val start = i
      while (i < len && s.charAt(i) != ' ') i += 1
      if (i > start) toks.add(UTF8String.fromString(s.substring(start, i)))
    }
    val m = toks.size - 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[AnyRef](m)
    var j = 0
    while (j < m) {
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](toks.get(j), toks.get(j + 1)))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Adjacent-token bigram (w1, w2) structs of a text column in ONE
  * codegen'd pass ([[BigramPairsCompute.compute]]) — the
  * `graft_shingles`/`graft_ngrams` treatment for the bigram family's
  * scan stage (t62 PMI, t63 Kneser-Ney, t64 TextRank): the built-in
  * `transform(sequence(...), j -> struct(sp[j-1], sp[j]))` chain is
  * interpreted CodegenFallback per element over an already-materialized
  * token array. Output bit-identical to that chain (field names and
  * order included), so every downstream count, score, and oracle
  * verdict is unchanged by construction. */
case class BigramPairsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  // analysis-time type error for a non-string argument (ADVICE r18)
  // instead of a runtime ClassCastException in BigramPairsCompute
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("w1", StringType, nullable = false),
      StructField("w2", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_bigram_pairs"

  override protected def nullSafeEval(input: Any): Any =
    BigramPairsCompute.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BigramPairsCompute.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): BigramPairsExpr =
    copy(child = newChild)
}

/** Distinct sorted word n-gram shingles of a text column in ONE
  * codegen'd pass ([[ShinglesCompute.compute]]). The built-in form —
  * `array_sort(array_distinct(transform(sequence(...), i ->
  * concat_ws(" ", slice(toks, i, n)))))` — chains four higher-order
  * functions that are all CodegenFallback (interpreted, one boxed
  * lambda dispatch per element per level), and that chain was measured
  * as THE dominant cost of the entire MinHash family at 100×
  * (the t77 shingle stage: 220 s of a 232 s query; this expression
  * reads ~29 s — see Dedup.withShingles). Output is bit-identical to
  * the built-in chain, binary sort order included, so every downstream
  * oracle verdict is unchanged by construction. */
case class ShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override protected def nullSafeEval(input: Any): Any =
    ShinglesCompute.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShinglesCompute.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

/** Registered (pay-level) domain extraction
  * ([[TextFunctions.registeredDomain]]): public-suffix-aware — the
  * label left of the longest matching suffix from the bounded
  * compile-time table, so `a.b.example.co.uk` and `example.co.uk`
  * group together while `alice.github.io` and `bob.github.io` stay
  * apart. Returns null for suffix-only or hostless inputs (hence
  * `nullable` handling via the eval returning null, not
  * nullSafeEval's short-circuit alone). Pure per-row string function
  * inside whole-stage codegen. */
case class RegisteredDomain(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_registered_domain"

  override protected def nullSafeEval(input: Any): Any = {
    val d = TextFunctions.registeredDomain(input.asInstanceOf[UTF8String].toString)
    if (d == null) null else UTF8String.fromString(d)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""String ${ev.value}Dom = graft.functions.TextFunctions.registeredDomain($c.toString());
         |if (${ev.value}Dom == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(${ev.value}Dom);
         |}""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): RegisteredDomain =
    copy(child = newChild)
}

case class Pseudonymize(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_pseudonymize"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      TextFunctions.pseudonymizeString(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  graft.functions.TextFunctions.pseudonymizeString($c.toString()));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Pseudonymize =
    copy(child = newChild)
}

/** Portable mod-2³¹ polynomial fold over a string's Unicode code points:
  * h = (h·31 + codepoint) mod 2³¹−1, left to right. The cross-engine
  * fingerprint CONTRACT behind hash-split/sampling/packing (one SQL
  * mirror lives in graft.queries.Text.foldSql) — bit-identical to the
  * HOF form `aggregate(filter(split(s,''), ch -> ch != ''), 0L,
  * (h, ch) -> pmod(h*31 + ascii(ch), 2147483647))` it replaces, which
  * allocated an array of single-char strings and dispatched two
  * interpreted lambdas per character on the hot path of every
  * split/resample/pack query. Decodes the UTF-8 bytes directly; no
  * allocation, whole-stage codegen via a static helper. */
case class Fold31(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fold31"

  override protected def nullSafeEval(input: Any): Any =
    Fold31.fold(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Fold31.fold($c);")

  override protected def withNewChildInternal(newChild: Expression): Fold31 =
    copy(child = newChild)
}

object Fold31 {
  /** One pass over the UTF-8 bytes, decoding code points inline.
    * Continuation-byte masks follow RFC 3629; Spark strings are valid
    * UTF-8 by construction (UTF8String normalizes on ingest). */
  def fold(s: UTF8String): Long = {
    val bytes = s.getBytes
    val n = bytes.length
    var h = 0L
    var i = 0
    while (i < n) {
      val b = bytes(i) & 0xff
      var cp = 0
      if (b < 0x80) { cp = b; i += 1 }
      else if ((b & 0xe0) == 0xc0) {
        cp = ((b & 0x1f) << 6) | (bytes(i + 1) & 0x3f); i += 2
      } else if ((b & 0xf0) == 0xe0) {
        cp = ((b & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) | (bytes(i + 2) & 0x3f); i += 3
      } else {
        cp = ((b & 0x07) << 18) | ((bytes(i + 1) & 0x3f) << 12) |
          ((bytes(i + 2) & 0x3f) << 6) | (bytes(i + 3) & 0x3f); i += 4
      }
      h = (h * 31L + cp) % 2147483647L
    }
    h
  }
}

/** Full BPE segmentation of one word under a fixed merge list, in a
  * single expression call: initial code-point symbols (with the `</w>`
  * marker fused onto the last) followed by every merge replayed in rank
  * order as a greedy left-to-right pass. Replaces the per-merge chain of
  * interpreted `aggregate` HOF folds ([[graft.operators.Bpe]]'s original
  * formulation), which dispatched two boxed lambdas per symbol per merge
  * and allocated one intermediate array per merge per word — with 12
  * merges that chain was the single most expensive query in the bench
  * suite (t33, VERDICT r9). Here the merge replay is an in-place loop
  * over one symbol buffer; the greedy tail-vs-merge-left comparison is
  * equivalent to the published skip-two scan (a fired merge's output
  * `ab` can never re-fire as the left symbol `a` of the same rank, since
  * `b` is non-empty) — asserted merge-for-merge against the single-node
  * reference in BpeSpec. */
case class BpeApply(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_apply"

  @transient private lazy val lefts = merges.map(_._1).toArray
  @transient private lazy val rights = merges.map(_._2).toArray
  @transient private lazy val joined = merges.map(p => p._1 + p._2).toArray

  def segment(w: UTF8String): ArrayData = {
    val s = w.toString
    // initial symbols: one per CODE POINT (split(w, '') contract — Java's
    // zero-width regex split never lands inside a surrogate pair), with
    // `</w>` on the last; the empty word degenerates to a lone marker,
    // matching split('', '') = [''].
    val nCp = s.codePointCount(0, s.length)
    var n = math.max(nCp, 1)
    // merges only ever shrink the buffer, so one allocation serves every
    // pass (out <= i invariant keeps the rewrite in-place-safe)
    val buf = new Array[String](n)
    if (nCp == 0) buf(0) = "</w>"
    else {
      var i = 0
      var k = 0
      while (k < nCp) {
        val len = Character.charCount(s.codePointAt(i))
        buf(k) =
          if (k == nCp - 1) s.substring(i, i + len) + "</w>"
          else s.substring(i, i + len)
        i += len
        k += 1
      }
    }
    val nM = lefts.length
    var m = 0
    while (m < nM) {
      val a = lefts(m); val b = rights(m); val ab = joined(m)
      var out = 0
      var i = 0
      while (i < n) {
        val cur = buf(i)
        if (out > 0 && cur == b && buf(out - 1) == a) buf(out - 1) = ab
        else { buf(out) = cur; out += 1 }
        i += 1
      }
      n = out
      m += 1
    }
    val arr = new Array[AnyRef](n)
    var i = 0
    while (i < n) { arr(i) = UTF8String.fromString(buf(i)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  override protected def nullSafeEval(input: Any): Any =
    segment(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeApply", this, classOf[BpeApply].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.segment($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeApply =
    copy(child = newChild)
}

/** One greedy merge pass (a, b) → ab over an existing symbol array — the
  * learn-side kernel: [[graft.operators.Bpe.learnMerges]] rewrites the
  * vocabulary-sized word table once per learned rank, and this replaces
  * that round's interpreted `aggregate` HOF fold with a single in-place
  * codegen'd pass. Same greedy tail-comparison semantics as [[BpeApply]]
  * (BpeSpec's reference is the arbiter). */
case class BpeMergeStep(child: Expression, a: String, b: String,
    merged: String) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_step"

  @transient private lazy val ua = UTF8String.fromString(a)
  @transient private lazy val ub = UTF8String.fromString(b)
  // the replacement symbol is explicit (BPE concatenates; WordPiece
  // strips the right side's ## continuation marker)
  @transient private lazy val uab = UTF8String.fromString(merged)

  def mergeOnce(in: ArrayData): ArrayData = {
    val n = in.numElements()
    // element UTF8Strings are references into the input row, valid for
    // the duration of this row's projection — the same borrow Spark's
    // own collection expressions rely on (the consumer copies on write)
    val buf = new Array[AnyRef](math.max(n, 1))
    var out = 0
    var i = 0
    while (i < n) {
      val cur = in.getUTF8String(i)
      if (out > 0 && ub == cur && ua == buf(out - 1)) buf(out - 1) = uab
      else { buf(out) = cur; out += 1 }
      i += 1
    }
    val arr = if (out == buf.length) buf else java.util.Arrays.copyOf(buf, out)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  override protected def nullSafeEval(input: Any): Any =
    mergeOnce(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeStep", this, classOf[BpeMergeStep].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.mergeOnce($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeMergeStep =
    copy(child = newChild)
}

/** Viterbi segmentation of one word under a fixed unigram piece table
  * (the decode step of the SentencePiece unigram model — Kudo, ACL 2018):
  * dp[i] = max over j of dp[j] + logp(word[j..i)), candidate window
  * bounded by the longest piece, ties broken toward the SMALLEST j
  * (longest final piece) by strict-greater replacement over ascending j.
  * A single character absent from the table scores [[UnigramEncode.UnkLogp]]
  * (coverage fallback); longer unknown substrings are non-candidates.
  * One expression call per word — the whole lattice runs inside the
  * generated loop, no per-position lambda dispatch (the [[BpeApply]]
  * precedent). Scores are IEEE doubles summed in canonical DP order, so
  * a SQL replay of the same recurrence reproduces every comparison
  * bit-for-bit. Positions are UTF-16 chars (= code points = bytes on
  * ASCII corpora; a non-ASCII deployment normalizes first, the t48
  * caveat). */
case class UnigramEncode(child: Expression, pieces: Seq[(String, Double)])
    extends UnaryExpression {
  require(pieces.nonEmpty, "piece table must be non-empty")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_unigram_encode"

  @transient private lazy val table: java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double](pieces.size * 2)
    pieces.foreach { case (p, l) => m.put(p, java.lang.Double.valueOf(l)) }
    m
  }
  @transient private lazy val maxLen = pieces.iterator.map(_._1.length).max

  def segment(w: UTF8String): ArrayData = {
    val s = w.toString
    val n = s.length
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[AnyRef])
    val dp = new Array[Double](n + 1)
    val bp = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      var best = Double.NegativeInfinity
      var bj = -1
      var j = math.max(0, i - maxLen)
      while (j < i) {
        val p = table.get(s.substring(j, i))
        val sc =
          if (p != null) dp(j) + p.doubleValue
          else if (i - j == 1) dp(j) + UnigramEncode.UnkLogp
          else Double.NegativeInfinity
        if (sc > best) { best = sc; bj = j }
        j += 1
      }
      dp(i) = best
      bp(i) = bj
      i += 1
    }
    // backtrack: count pieces, then fill left-to-right
    var k = 0
    var pos = n
    while (pos > 0) { pos = bp(pos); k += 1 }
    val out = new Array[AnyRef](k)
    pos = n
    while (pos > 0) {
      val j = bp(pos)
      k -= 1
      out(k) = UTF8String.fromString(s.substring(j, pos))
      pos = j
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    segment(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramEnc", this, classOf[UnigramEncode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.segment($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramEncode =
    copy(child = newChild)
}

object UnigramEncode {
  /** Log-probability charged per unknown single character. A plain
    * constant (not -∞) so coverage holes degrade gracefully; mirrored
    * verbatim in the SQL oracle's COALESCE. */
  val UnkLogp: Double = -100.0
}

/** Greedy longest-match-first WordPiece segmentation (Wu et al., "Google's
  * Neural Machine Translation System", 2016 §4.1 — the BERT tokenizer's
  * WordpieceTokenizer): from the current position take the LONGEST vocab
  * piece that matches — the word-initial table at position 0, the
  * `##`-prefixed continuation table after — and advance; if no piece
  * matches at some position the whole word collapses to `[UNK]` (the
  * published behavior). The third tokenizer family beside BPE
  * ([[BpeApply]]) and unigram ([[UnigramEncode]]): same one-expression-
  * call-per-word shape, the greedy loop runs inside codegen with a
  * shared hash table, no per-position lambda dispatch.
  *
  * Caveat (shared with BERT): a vocab entry's leading `##` IS the
  * continuation marker, so corpus tokens that themselves start with
  * `##` are not representable as word-initial matches.
  *
  * Positions and lengths count Unicode CODE POINTS — matching the
  * vocab selection (Spark `substr`), the t54 DuckDB oracle, and the
  * learner's single-char tests, all of which are code-point based, so
  * supplementary-plane characters segment consistently across the
  * stack. BMP-only words (the overwhelmingly common case, where char
  * index == code point index) take a zero-allocation fast path. */
case class WordPieceEncode(child: Expression, vocab: Seq[String])
    extends UnaryExpression {
  require(vocab.nonEmpty, "vocab must be non-empty")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_wordpiece_encode"

  @transient private lazy val table: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.size * 2)
    vocab.foreach(s.add)
    s
  }
  // longest piece BODY in code points (matching the position unit)
  @transient private lazy val maxLen = vocab.iterator
    .map { p =>
      val body = if (p.startsWith("##")) p.substring(2) else p
      body.codePointCount(0, body.length)
    }.max

  def segment(w: UTF8String): ArrayData = {
    val s = w.toString
    val nChars = s.length
    if (nChars == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[AnyRef])
    val ncp = s.codePointCount(0, nChars)
    // off(i) = UTF-16 index of code point i, off(ncp) = nChars — built
    // only when a surrogate pair is present; null means identity.
    val off: Array[Int] =
      if (ncp == nChars) null
      else {
        val a = new Array[Int](ncp + 1)
        var ci = 0
        var i = 0
        while (i < ncp) { a(i) = ci; ci = s.offsetByCodePoints(ci, 1); i += 1 }
        a(ncp) = nChars
        a
      }
    @inline def charIdx(cp: Int): Int = if (off == null) cp else off(cp)
    val out = new java.util.ArrayList[AnyRef](4)
    var pos = 0
    while (pos < ncp) {
      var l = math.min(maxLen, ncp - pos)
      var hit: String = null
      var hitLen = 0
      while (l >= 1 && hit == null) {
        val sub = s.substring(charIdx(pos), charIdx(pos + l))
        val cand = if (pos == 0) sub else "##" + sub
        if (table.contains(cand)) { hit = cand; hitLen = l }
        l -= 1
      }
      if (hit == null)
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array[AnyRef](UTF8String.fromString(WordPieceEncode.Unk)))
      out.add(UTF8String.fromString(hit))
      pos += hitLen
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size())))
  }

  override protected def nullSafeEval(input: Any): Any =
    segment(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordpieceEnc", this, classOf[WordPieceEncode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.segment($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordPieceEncode =
    copy(child = newChild)
}

object WordPieceEncode {
  /** The unknown-word sentinel, BERT's literal. */
  val Unk: String = "[UNK]"
}

/** Registers the custom expressions in a session's function registry so
  * they are usable from `expr("graft_dot(a, b)")` / SQL. Idempotent. */
object GraftExpressions {

  /** Wire encoding of a merge list for the `graft_bpe_apply` SQL surface:
    * TAB between left/right, NEWLINE between ranks. Merge symbols come
    * from whitespace tokens so they can never contain either separator —
    * enforced here rather than assumed. */
  def encodeMerges(pairs: Seq[(String, String)]): String = {
    pairs.foreach { case (l, r) =>
      require(!(l + r).exists(c => c == '\t' || c == '\n'),
        s"merge symbols must not contain tab/newline: ($l, $r)")
      require(l.nonEmpty && r.nonEmpty, s"merge symbols must be non-empty: ($l, $r)")
    }
    pairs.map { case (l, r) => s"$l\t$r" }.mkString("\n")
  }

  def decodeMerges(spec: String): Seq[(String, String)] =
    spec.split('\n').toSeq.filter(_.nonEmpty).map { line =>
      val i = line.indexOf('\t')
      require(i > 0 && i < line.length - 1, s"bad merge spec line: '$line'")
      (line.substring(0, i), line.substring(i + 1))
    }

  /** Wire encoding of a unigram piece table for the
    * `graft_unigram_encode` SQL surface: TAB between piece and log-prob,
    * NEWLINE between entries. The log-prob round-trips exactly through
    * `Double.toString`/`parseDouble` (shortest-decimal is bijective), so
    * the expression scores with the identical bits the caller computed. */
  def encodePieces(pieces: Seq[(String, Double)]): String = {
    pieces.foreach { case (p, _) =>
      require(p.nonEmpty && !p.exists(c => c == '\t' || c == '\n'),
        s"piece must be non-empty and tab/newline-free: '$p'")
    }
    pieces.map { case (p, l) => s"$p\t${java.lang.Double.toString(l)}" }.mkString("\n")
  }

  def decodePieces(spec: String): Seq[(String, Double)] =
    spec.split('\n').toSeq.filter(_.nonEmpty).map { line =>
      val i = line.indexOf('\t')
      require(i > 0 && i < line.length - 1, s"bad piece spec line: '$line'")
      (line.substring(0, i), java.lang.Double.parseDouble(line.substring(i + 1)))
    }

  /** Wire encoding of a WordPiece vocabulary for the
    * `graft_wordpiece_encode` SQL surface: NEWLINE between entries
    * (continuation pieces carry their literal `##` prefix). Pieces come
    * from whitespace tokens so they can never contain the separator —
    * enforced here rather than assumed (the encodeMerges discipline). */
  def encodeWordPieceVocab(pieces: Seq[String]): String = {
    pieces.foreach { p =>
      require(p.nonEmpty && !p.exists(c => c == '\t' || c == '\n'),
        s"piece must be non-empty and tab/newline-free: '$p'")
    }
    pieces.mkString("\n")
  }

  def decodeWordPieceVocab(spec: String): Seq[String] =
    spec.split('\n').toSeq.filter(_.nonEmpty)

  private def intArg(e: Expression, name: String): Int = e.eval() match {
    case i: Int => i
    case other => throw new IllegalArgumentException(s"$name must be an int literal, got $other")
  }

  private def strArg(e: Expression, name: String): String = e.eval() match {
    case s: UTF8String => s.toString
    case other => throw new IllegalArgumentException(s"$name must be a string literal, got $other")
  }

  /** double literal (accepts the D-suffixed double form and Spark's
    * default decimal literal — `0.7` parses as DecimalType) */
  private def doubleArg(e: Expression, name: String): Double = e.eval() match {
    case d: Double => d
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case i: Int => i.toDouble
    case other => throw new IllegalArgumentException(s"$name must be a numeric literal, got $other")
  }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // register-if-absent: every operator entry point calls register (the
    // registry is session-scoped, callers can't know), and
    // createOrReplaceTempFunction logs a replacement WARN per function per
    // call — seven lines of noise in every bench/verify artifact. A lost
    // race just means one harmless replace of an identical builder.
    def ensure(name: String)(builder: Seq[Expression] => Expression): Unit =
      if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    ensure("graft_rolling_hash")(exprs => RollingHash(exprs.head))
    ensure("graft_dot")(exprs => DotProduct(exprs(0), exprs(1)))
    ensure("graft_jaccard_sorted")(exprs => JaccardSorted(exprs(0), exprs(1)))
    ensure("graft_inter_sorted")(exprs => SortedLongInterCount(exprs(0), exprs(1)))
    ensure("graft_lsh_bands")(exprs => BandedSignature(exprs(0),
      intArg(exprs(1), "numPlanes"), intArg(exprs(2), "bandBits")))
    ensure("graft_topk")(exprs => TopK(exprs(0), exprs(1), intArg(exprs(2), "k")))
    ensure("graft_multiq_topk")(exprs => MultiQTopK(exprs(0), exprs(1),
      strArg(exprs(2), "queries"), intArg(exprs(3), "k"),
      zeroScore = if (exprs.length > 4) doubleArg(exprs(4), "zeroScore")
        else Double.NaN))
    ensure("graft_mmr")(exprs => MmrSelect(exprs(0), exprs(1), exprs(2), exprs(3),
      intArg(exprs(4), "k"), doubleArg(exprs(5), "lambda"),
      intArg(exprs(6), "maxCandidates")))
    ensure("graft_mode_count")(exprs => ModeCount(exprs.head))
    ensure("graft_fold31")(exprs => Fold31(exprs.head))
    ensure("graft_pseudonymize")(exprs => Pseudonymize(exprs.head))
    ensure("graft_registered_domain")(exprs => RegisteredDomain(exprs.head))
    ensure("graft_shingles")(exprs =>
      ShinglesExpr(exprs(0), intArg(exprs(1), "n")))
    ensure("graft_ngrams")(exprs =>
      NgramsExpr(exprs(0), intArg(exprs(1), "n")))
    ensure("graft_bigram_pairs")(exprs => BigramPairsExpr(exprs.head))
    ensure("graft_bpe_apply")(exprs =>
      BpeApply(exprs(0), decodeMerges(strArg(exprs(1), "merges"))))
    ensure("graft_bpe_step")(exprs => {
      val (l, r) = (strArg(exprs(1), "left"), strArg(exprs(2), "right"))
      BpeMergeStep(exprs(0), l, r, l + r)
    })
    // WordPiece variant: the caller names the replacement symbol
    ensure("graft_merge_step")(exprs =>
      BpeMergeStep(exprs(0), strArg(exprs(1), "left"), strArg(exprs(2), "right"),
        strArg(exprs(3), "merged")))
    ensure("graft_unigram_encode")(exprs =>
      UnigramEncode(exprs(0), decodePieces(strArg(exprs(1), "pieces"))))
    ensure("graft_mg_sketch")(exprs =>
      MGSketch(exprs(0), intArg(exprs(1), "k")))
    ensure("graft_cms_sketch")(exprs =>
      CMSketchWeighted(exprs(0), Literal(1L),
        intArg(exprs(1), "depth"), intArg(exprs(2), "width")))
    ensure("graft_cms_sketch_w")(exprs =>
      CMSketchWeighted(exprs(0), exprs(1),
        intArg(exprs(2), "depth"), intArg(exprs(3), "width")))
    ensure("graft_bloom_sketch")(exprs =>
      BloomSketch(exprs(0), intArg(exprs(1), "numHashes"), intArg(exprs(2), "numBits")))
    ensure("graft_hll_sketch")(exprs =>
      HllSketch(exprs(0), intArg(exprs(1), "p")))
    ensure("graft_wordpiece_encode")(exprs =>
      WordPieceEncode(exprs(0), decodeWordPieceVocab(strArg(exprs(1), "vocab"))))
    // patterns wire format: tab-joined (tabs can't appear in the ASCII
    // word patterns this serves)
    ensure("graft_blocklist")(exprs =>
      BlocklistScan(exprs(0), strArg(exprs(1), "patterns").split('\t').toSeq))
  }
}
