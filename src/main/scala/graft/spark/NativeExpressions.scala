package org.apache.spark.sql.graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native cosine similarity over two numeric arrays (float or double), with
  * whole-stage codegen — one fused loop per row instead of three interpreted
  * higher-order-function passes (`aggregate(zip_with(...))` allocates an
  * intermediate array and boxes every element; on a 64-dim embedding that is
  * ~400 object allocations per comparison, which dominates ANN verify cost).
  *
  * Semantics match the composed-builtin version exactly: elements are widened
  * to double, products accumulate left-to-right, result is
  * `dot / (sqrt(normA) * sqrt(normB))`; null if either array is null or the
  * lengths differ (as `zip_with` null-padding would yield). One DELIBERATE
  * divergence: a null ELEMENT reads as 0.0 (primitive accessors, no branch
  * in the hot loop) where the composed form would poison the whole result
  * to null — embeddings are `containsNull = false` by construction, and for
  * corrupt data a 0-weighted dimension beats losing the comparison. The
  * equivalence property suite generates null-free arrays accordingly.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)),
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)))

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val xf = elemType(left) == FloatType
    val yf = elemType(right) == FloatType
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val getX = CodeGenerator.getValue(a, elemType(left), "i")
      val getY = CodeGenerator.getValue(b, elemType(right), "i")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double dot = 0.0; double na = 0.0; double nb = 0.0;
         |  int n = $a.numElements();
         |  for (int i = 0; i < n; i++) {
         |    double xi = (double) $getX;
         |    double yi = (double) $getY;
         |    dot += xi * yi; na += xi * xi; nb += yi * yi;
         |  }
         |  ${ev.value} = dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column API: native cosine similarity. */
  def apply(a: Column, b: Column): Column =
    ExpressionUtils.column(
      CosineSimilarity(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}

/** Native dot product over two numeric arrays — same codegen rationale as
  * [[CosineSimilarity]]; used per hyperplane in LSH bucketing where the
  * interpreted `aggregate(zip_with(...))` form would run once per plane per
  * row.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)),
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)))

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val xf = elemType(left) == FloatType
    val yf = elemType(right) == FloatType
    var dot = 0.0
    var i = 0
    while (i < n) {
      val xi = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val getX = CodeGenerator.getValue(a, elemType(left), "i")
      val getY = CodeGenerator.getValue(b, elemType(right), "i")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double dot = 0.0;
         |  int n = $a.numElements();
         |  for (int i = 0; i < n; i++) {
         |    dot += (double) $getX * (double) $getY;
         |  }
         |  ${ev.value} = dot;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  def apply(a: Column, b: Column): Column =
    ExpressionUtils.column(
      DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}

/** First 8 bytes of md5(utf8(s)) as a big-endian signed 64-bit value — the
  * SimHash per-token hash. Semantically identical to decoding the first 16
  * hex chars of `md5(s)` (what the DuckDB oracle does, and what the composed
  * form `conv(substring(md5(s), ...), 16, 10)` computed), but one digest and
  * zero hex-string round-trips per token: the composed form ran md5 once per
  * 4-hex-char chunk plus a string-parse `conv` each, which made the SimHash
  * signature aggregation 4x slower than the rest of the dedup family.
  */
case class Md5Prefix64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_prefix64"

  override def nullSafeEval(input: Any): Any = {
    val md = org.apache.commons.codec.digest.DigestUtils.md5(
      input.asInstanceOf[UTF8String].getBytes)
    ((md(0) & 0xffL) << 56) | ((md(1) & 0xffL) << 48) | ((md(2) & 0xffL) << 40) |
      ((md(3) & 0xffL) << 32) | ((md(4) & 0xffL) << 24) | ((md(5) & 0xffL) << 16) |
      ((md(6) & 0xffL) << 8) | (md(7) & 0xffL)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val md = ctx.freshName("md")
      s"""
         |byte[] $md = org.apache.commons.codec.digest.DigestUtils.md5($c.getBytes());
         |${ev.value} = (($md[0] & 0xffL) << 56) | (($md[1] & 0xffL) << 48) |
         |  (($md[2] & 0xffL) << 40) | (($md[3] & 0xffL) << 32) | (($md[4] & 0xffL) << 24) |
         |  (($md[5] & 0xffL) << 16) | (($md[6] & 0xffL) << 8) | ($md[7] & 0xffL);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix64 =
    copy(child = newChild)
}

object Md5Prefix64 {
  def apply(s: Column): Column =
    ExpressionUtils.column(Md5Prefix64(ExpressionUtils.expression(s)))
}

/** Word n-gram shingles from a token array — the native form of the composed
  * `transform(sequence(0, size-n), i -> concat_ws(" ", slice(toks, i+1, n)))`:
  * identical output (size-n+1 space-joined grams; a doc shorter than `n`
  * tokens collapses to one whole-doc gram), but one static-method call per
  * row instead of an interpreted lambda per gram, each allocating a slice
  * copy. Codegen emits a call to [[WordShingles.shingle]], so the projection
  * stays inside whole-stage codegen.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n > 0, "shingle size must be positive")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  override def nullSafeEval(input: Any): Any =
    WordShingles.shingle(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.WordShingles.shingle($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  private val Sep = UTF8String.fromString(" ")

  def shingle(arr: ArrayData, n: Int): ArrayData = {
    val sz = arr.numElements()
    // a token-empty doc has NO grams — emitting the whole-doc fallback gram
    // ("") here would make every empty doc collide with every other in any
    // shingle-keyed join (decontamination, MinHash bands)
    if (sz == 0) {
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    } else if (sz >= n) {
      val out = new Array[Any](sz - n + 1)
      val parts = new Array[UTF8String](n)
      var i = 0
      while (i <= sz - n) {
        var j = 0
        while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
        out(i) = UTF8String.concatWs(Sep, parts: _*)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    } else {
      val parts = new Array[UTF8String](sz)
      var j = 0
      while (j < sz) { parts(j) = arr.getUTF8String(j); j += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](UTF8String.concatWs(Sep, parts: _*)))
    }
  }

  def apply(toks: Column, n: Int): Column =
    ExpressionUtils.column(WordShingles(ExpressionUtils.expression(toks), n))
}

/** Windowed ordered co-occurrence pairs from a token array: `"a b"` for every
  * position pair `(i, j)` with `i < j <= i + window` — the native form of the
  * composed `flatten(transform(sequence, i -> transform(slice(toks, i+2, w),
  * b -> ...)))`, which ran two nested interpreted lambdas per row, allocating
  * a slice copy per position and re-evaluating `element_at` per pair. One
  * static call per row, inside whole-stage codegen. Tokens contain no
  * whitespace (they come from a whitespace split), so the space-joined pair
  * string is loss-free and its binary order equals the (a, b) tuple order —
  * which keeps a downstream `ORDER BY count, pair` cut deterministic and
  * lets consumers split the winning pairs back apart.
  */
case class WordPairs(child: Expression, window: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(window > 0, "window must be positive")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_pairs"

  override def nullSafeEval(input: Any): Any =
    WordPairs.pairs(input.asInstanceOf[ArrayData], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.WordPairs.pairs($c, $window);")

  override protected def withNewChildInternal(newChild: Expression): WordPairs =
    copy(child = newChild)
}

object WordPairs {
  private val Sep = UTF8String.fromString(" ")

  def pairs(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    var count = 0
    var i = 0
    while (i < n - 1) { count += math.min(w, n - 1 - i); i += 1 }
    val out = new Array[Any](count)
    var k = 0
    i = 0
    while (i < n - 1) {
      val a = arr.getUTF8String(i)
      val end = math.min(i + w, n - 1)
      var j = i + 1
      while (j <= end) {
        out(k) = UTF8String.concatWs(Sep, a, arr.getUTF8String(j))
        k += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def apply(toks: Column, window: Int): Column =
    ExpressionUtils.column(WordPairs(ExpressionUtils.expression(toks), window))
}

/** Distinct 64-bit xxhash64 values of a token array's shingle set — the
  * native fusion of `array_distinct(transform(shingles, s => xxhash64(s)))`.
  * Hashes each gram with [[org.apache.spark.sql.catalyst.expressions.XxHash64Function]]
  * at Spark's default seed 42, so values are bit-identical to the built-in
  * `xxhash64(gram)`; dedup is an open-address pass over primitive longs (no
  * per-gram boxing, no interpreted transform).
  */
case class WordShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n > 0, "shingle size must be positive")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_word_shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    WordShingleHashes.hashes(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.WordShingleHashes.hashes($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordShingleHashes =
    copy(child = newChild)
}

object WordShingleHashes {
  private val Seed = 42L // xxhash64()'s default seed

  def hashes(arr: ArrayData, n: Int): ArrayData = {
    val grams = WordShingles.shingle(arr, n)
    val sz = grams.numElements()
    val out = new Array[Long](sz)
    var m = 0
    // keep first occurrence order, drop repeats (array_distinct semantics);
    // linear probe for short docs, hash set once the quadratic scan would bite
    val set = if (sz > 64) new java.util.HashSet[java.lang.Long](sz * 2) else null
    var i = 0
    while (i < sz) {
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        grams.getUTF8String(i), StringType, Seed)
      val seen = if (set != null) !set.add(h)
        else {
          var s = false
          var j = 0
          while (j < m && !s) { s = out(j) == h; j += 1 }
          s
        }
      if (!seen) { out(m) = h; m += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(out, m))
  }

  def apply(toks: Column, n: Int): Column =
    ExpressionUtils.column(WordShingleHashes(ExpressionUtils.expression(toks), n))
}

/** One BPE merge applied to a symbol array: every adjacent `(left, right)`
  * occurrence is replaced by their concatenation, greedy LEFTMOST and
  * non-overlapping (`[a,a,a]` with pair `(a,a)` → `[aa,a]`) — the classic
  * byte-pair-encoding apply step. A native expression because it runs once
  * per vocabulary word per merge rank inside the distributed WordPiece
  * training loop and the rank-order replays; the stateful scan
  * (skip-2-on-match) has no clean codegen'd HOF form.
  */
case class BpeMergeAdjacent(child: Expression, left: String, right: String,
    mergedOverride: Option[String] = None)
    extends UnaryExpression with ExpectsInputTypes {
  require(left.nonEmpty && right.nonEmpty, "merge pair symbols must be non-empty")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_merge"

  @transient private lazy val l = UTF8String.fromString(left)
  @transient private lazy val r = UTF8String.fromString(right)
  // plain concatenation by default; WordPiece overrides with the
  // continuation-marker-stripped form (l + r minus r's leading ##)
  @transient private lazy val m =
    UTF8String.fromString(mergedOverride.getOrElse(left + right))

  override def nullSafeEval(input: Any): Any =
    BpeMergeAdjacent.merge(input.asInstanceOf[ArrayData], l, r, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lRef = ctx.addReferenceObj("bpeLeft", l, "UTF8String")
    val rRef = ctx.addReferenceObj("bpeRight", r, "UTF8String")
    val mRef = ctx.addReferenceObj("bpeMerged", m, "UTF8String")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.BpeMergeAdjacent.merge($c, $lRef, $rRef, $mRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeMergeAdjacent =
    copy(child = newChild)
}

object BpeMergeAdjacent {
  def merge(arr: ArrayData, l: UTF8String, r: UTF8String, m: UTF8String): ArrayData = {
    val n = arr.numElements()
    val syms = new Array[UTF8String](n)
    var i = 0
    while (i < n) { syms(i) = arr.getUTF8String(i); i += 1 }
    val merged = mergeSyms(syms, l, r, m)
    val out = new Array[Any](merged.length)
    System.arraycopy(merged, 0, out, 0, merged.length)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** The one BPE apply rule — every `(l, r)` occurrence becomes `m`, greedy
    * leftmost non-overlapping — shared by this kernel and the in-task
    * trainer ([[BpeTrainer]]), so training and replay cannot drift apart.
    * Returns `syms` itself (no copy) when the pair does not occur.
    */
  def mergeSyms(syms: Array[UTF8String], l: UTF8String, r: UTF8String,
      m: UTF8String): Array[UTF8String] = {
    val n = syms.length
    val out = new Array[UTF8String](n)
    var k = 0
    var i = 0
    while (i < n) {
      if (i + 1 < n && syms(i).equals(l) && syms(i + 1).equals(r)) {
        out(k) = m
        i += 2
      } else {
        out(k) = syms(i)
        i += 1
      }
      k += 1
    }
    if (k == n) syms else java.util.Arrays.copyOf(out, k)
  }

  def apply(syms: Column, left: String, right: String): Column =
    ExpressionUtils.column(
      BpeMergeAdjacent(ExpressionUtils.expression(syms), left, right))

  def apply(syms: Column, left: String, right: String, merged: String): Column =
    ExpressionUtils.column(
      BpeMergeAdjacent(ExpressionUtils.expression(syms), left, right, Some(merged)))
}

/** Trained BPE merge table, shipped to executors ONCE via broadcast (the
  * [[org.apache.spark.sql.graft.CentroidMatrix]] operator-state pattern): a
  * real vocabulary is 10^4–10^5 merges, which as chained per-rank plan
  * layers would blow plan depth the same way per-centroid literals blew
  * expression width. Keyed `left + ' ' + right` — symbols come from the
  * ASCII-printable trainer domain, which excludes the space, so the key
  * is unambiguous.
  */
final class BpeMergeTable(pairs: Array[(String, String, Int)]) extends Serializable {
  val ranks = new java.util.HashMap[String, Integer](pairs.length * 2)
  pairs.foreach { case (l, r, rank) => ranks.put(l + ' ' + r, rank) }
  def isEmpty: Boolean = ranks.isEmpty
}

/** BPE-encode a whole document's token array into its subword sequence —
  * one kernel call per row, inside whole-stage codegen, merge table behind
  * a broadcast.
  *
  * Per ASCII-printable token (the trainer's domain): split to characters,
  * then repeatedly merge the LOWEST-RANK adjacent pair present (all its
  * leftmost non-overlapping occurrences per pass, the training-time apply
  * rule) until no adjacent pair is in the table — the standard BPE encode
  * loop. For a table that came out of [[graft.ops.TextAnalysis.trainBpeMerges]]
  * this is EXACTLY equivalent to replaying the merges once in rank order
  * (a trained pair's constituent symbols are always products of strictly
  * lower ranks, so rank k can never create a match for a rank < k), which
  * is what the DuckDB oracle does — the equivalence is spec-pinned. Tokens
  * OUTSIDE the ASCII-printable domain pass through as one opaque subword:
  * no merge can ever apply to them, and splitting them to characters would
  * only inflate the sequence.
  */
case class BpeEncodeDoc(child: Expression, bc: Broadcast[BpeMergeTable],
    byteLevel: Boolean = false)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_encode"

  override def nullSafeEval(input: Any): Any =
    BpeEncodeDoc.encode(input.asInstanceOf[ArrayData], bc.value, byteLevel)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bpeBc", bc, "org.apache.spark.broadcast.Broadcast")
    val tab = ctx.addMutableState("org.apache.spark.sql.graft.BpeMergeTable", "bpeTab",
      v => s"$v = (org.apache.spark.sql.graft.BpeMergeTable) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.BpeEncodeDoc.encode($c, $tab, $byteLevel);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeDoc =
    copy(child = newChild)
}

object BpeEncodeDoc {
  private def asciiPrintable(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 0x21 || c > 0x7e) return false
      i += 1
    }
    s.nonEmpty
  }

  private def encodeWord(w: String, tab: BpeMergeTable, out: java.util.ArrayList[Any]): Unit = {
    val syms = new Array[String](w.length)
    var i = 0
    while (i < w.length) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
    encodeSyms(syms, tab, out)
  }

  private def encodeSyms(syms0: Array[String], tab: BpeMergeTable,
      out: java.util.ArrayList[Any]): Unit = {
    var syms = syms0
    var n = syms.length
    var i = 0
    var continue = n > 1 && !tab.isEmpty
    while (continue) {
      // lowest-rank adjacent pair present anywhere in the word
      var bestRank = Int.MaxValue
      var bestL: String = null
      var bestR: String = null
      i = 0
      while (i < n - 1) {
        val r = tab.ranks.get(syms(i) + ' ' + syms(i + 1))
        if (r != null && r < bestRank) { bestRank = r; bestL = syms(i); bestR = syms(i + 1) }
        i += 1
      }
      if (bestL == null) continue = false
      else {
        // merge ALL leftmost non-overlapping occurrences of that pair
        val merged = bestL + bestR
        val nu = new Array[String](n)
        var k = 0
        i = 0
        while (i < n) {
          if (i + 1 < n && syms(i) == bestL && syms(i + 1) == bestR) { nu(k) = merged; i += 2 }
          else { nu(k) = syms(i); i += 1 }
          k += 1
        }
        syms = nu
        n = k
        if (n < 2) continue = false
      }
    }
    i = 0
    while (i < n) { out.add(UTF8String.fromString(syms(i))); i += 1 }
  }

  def encode(toks: ArrayData, tab: BpeMergeTable, byteLevel: Boolean): ArrayData = {
    val nTok = toks.numElements()
    val out = new java.util.ArrayList[Any](nTok * 2)
    var t = 0
    while (t < nTok) {
      val tok = toks.getUTF8String(t)
      val s = tok.toString
      if (byteLevel) {
        // byte mode: every token is in-domain — its UTF-8 bytes map through
        // the reversible alphabet, with the inter-token space carried as a
        // leading Ġ byte-char on every token but the doc's first (the GPT-2
        // pre-token convention), so decode(concat(subwords)) reproduces the
        // space-joined token stream byte-exactly
        encodeSyms(ByteAlphabet.syms(if (t == 0) s else " " + s), tab, out)
      } else if (asciiPrintable(s)) encodeWord(s, tab, out)
      else out.add(tok) // outside the trainer's domain: one opaque subword
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  def apply(toks: Column, bc: Broadcast[BpeMergeTable]): Column =
    ExpressionUtils.column(BpeEncodeDoc(ExpressionUtils.expression(toks), bc))

  def apply(toks: Column, bc: Broadcast[BpeMergeTable], byteLevel: Boolean): Column =
    ExpressionUtils.column(BpeEncodeDoc(ExpressionUtils.expression(toks), bc, byteLevel))
}

/** Count of a string array's elements that belong to a literal string set —
  * the native form of `size(filter(arr, t => array_contains(lit(set), t)))`,
  * which runs an interpreted lambda per element with an O(|set|) linear
  * array_contains scan each. One hashed lookup per element, one static call
  * per row, inside whole-stage codegen. Binary UTF8 equality, identical to
  * array_contains on strings.
  */
case class CountInSet(child: Expression, set: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_count_in_set"

  @transient private lazy val utf8Set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](set.size * 2)
    set.foreach(x => s.add(UTF8String.fromString(x)))
    s
  }

  override def nullSafeEval(input: Any): Any =
    CountInSet.count(input.asInstanceOf[ArrayData], utf8Set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("utf8Set", utf8Set, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.CountInSet.count($c, $setRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): CountInSet =
    copy(child = newChild)
}

object CountInSet {
  def count(arr: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    val sz = arr.numElements()
    var c = 0
    var i = 0
    while (i < sz) {
      if (set.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  def apply(arr: Column, set: Seq[String]): Column =
    ExpressionUtils.column(CountInSet(ExpressionUtils.expression(arr), set))
}

/** Broadcast bigram-LM count tables for [[LmDocScore]] — the pruned pair
  * counts, full prefix masses, and vocabulary size that
  * [[graft.ops.TextAnalysis.lmScore]] keeps as broadcast-joined DataFrames;
  * here they collapse into two hash maps so a STREAM can score documents
  * in-row with zero joins and zero state. Driver-state bound = the pruned
  * pair table (`minCount` is the caller's knob, the same bound the batch
  * scorer's broadcast join already implies).
  */
final class LmTable(
    pairCounts: Array[(String, Long)],
    prefixCounts: Array[(String, Long)],
    val vocabSize: Long) extends Serializable {
  val pairs = new java.util.HashMap[String, java.lang.Long](pairCounts.length * 2)
  pairCounts.foreach { case (k, v) => pairs.put(k, v) }
  val prefixes = new java.util.HashMap[String, java.lang.Long](prefixCounts.length * 2)
  prefixCounts.foreach { case (k, v) => prefixes.put(k, v) }
}

/** Per-document bigram-LM score over a token array — one kernel call per
  * row, count tables behind a broadcast, inside whole-stage codegen.
  * Returns `[score_sum, n_bigrams]` (long×2) in the SAME 2^20 fixed-point
  * lane as [[graft.ops.TextAnalysis.lmScore]]:
  * `q = ((c_pair + 1) · 2^20) div (c_prefix + max(V, 1))` summed over the
  * doc's adjacent token pairs — integer-exact, so the stream path and the
  * batch scorer are value-identical by construction (spec-pinned), not
  * merely statistically close. Null input → null (family policy).
  */
case class LmDocScore(child: Expression, bc: Broadcast[LmTable])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lm_doc_score"

  override def nullSafeEval(input: Any): Any =
    LmDocScore.score(input.asInstanceOf[ArrayData], bc.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("lmBc", bc, "org.apache.spark.broadcast.Broadcast")
    val tab = ctx.addMutableState("org.apache.spark.sql.graft.LmTable", "lmTab",
      v => s"$v = (org.apache.spark.sql.graft.LmTable) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.LmDocScore.score($c, $tab);")
  }

  override protected def withNewChildInternal(newChild: Expression): LmDocScore =
    copy(child = newChild)
}

object LmDocScore {
  def score(toks: ArrayData, tab: LmTable): ArrayData = {
    val n = toks.numElements()
    var sum = 0L
    var i = 0
    val vFloor = math.max(tab.vocabSize, 1L)
    var prev: String = if (n > 0) toks.getUTF8String(0).toString else null
    i = 1
    while (i < n) {
      val cur = toks.getUTF8String(i).toString
      val cPairBoxed = tab.pairs.get(prev + ' ' + cur)
      val cPair = if (cPairBoxed == null) 0L else cPairBoxed.longValue()
      val cPrefBoxed = tab.prefixes.get(prev)
      val cPref = if (cPrefBoxed == null) 0L else cPrefBoxed.longValue()
      sum += ((cPair + 1L) * 1048576L) / (cPref + vFloor)
      prev = cur
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](sum, math.max(n - 1, 0).toLong))
  }

  def apply(toks: Column, bc: Broadcast[LmTable]): Column =
    ExpressionUtils.column(LmDocScore(ExpressionUtils.expression(toks), bc))
}

/** Intersection SIZE of two ascending-sorted distinct long arrays — the
  * verify kernel of [[graft.ops.Dedup.setSimilarityJoin]]. The composed
  * `size(array_intersect(a, b))` allocates a hash set AND a result array
  * per candidate pair (the measured source of that query's GC-bound slow
  * mode under full-suite heap pressure); this is one fused two-pointer
  * merge over the unsafe array buffers — zero allocation, whole-stage
  * codegen, reads elements in place via `getLong`.
  *
  * Contract: both inputs ascending and duplicate-free (they come from
  * `array_sort(collect_list(h))` over per-doc DISTINCT shingle hashes);
  * on unsorted input the count is simply wrong — this is a kernel for the
  * operator's own plumbing, not a general SQL surface.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graft.SortedIntersectCount.count($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  def count(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { n += 1L; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  def apply(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedIntersectCount(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}

/** Threshold-banded Levenshtein — the verify kernel of
  * [[graft.ops.Dedup.editDistanceJoin]]: returns the exact distance when it
  * is <= `threshold`, -1 otherwise. Semantics match the builtin
  * `levenshtein(l, r, t)` (unit costs, code points) wherever the builtin
  * returns a value in [0, t]; only that range reaches the join's filter.
  *
  * Why not the builtin: its per-call cost measured ~55 µs on 18-char
  * strings (16-29 s over a 10M-pair candidate stream at sf0.1). This
  * kernel (a) strips the common prefix and suffix first — near-duplicate
  * serial-number names share 15+ of 18 chars, leaving a 1-3 char DP — and
  * (b) runs the remaining two-row DP with a row-minimum early exit after
  * <= t+1 rows on far pairs, reading ASCII bytes IN PLACE off the
  * UTF8String buffer (no String conversion, no matrix). Non-ASCII input
  * takes a code-point slow path with identical semantics.
  */
case class EditDistanceWithin(left: Expression, right: Expression, threshold: Int)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_edit_within"

  override def nullSafeEval(a: Any, b: Any): Any =
    EditDistanceWithin.within(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], threshold)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graft.EditDistanceWithin.within($a, $b, $threshold);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EditDistanceWithin =
    copy(left = newLeft, right = newRight)
}

object EditDistanceWithin {

  def within(a: UTF8String, b: UTF8String, t: Int): Int = {
    val ascii = a.numBytes == a.numChars && b.numBytes == b.numChars
    if (ascii) withinAscii(a, b, t)
    else withinCodePoints(codePoints(a), codePoints(b), t)
  }

  private def withinAscii(a: UTF8String, b: UTF8String, t: Int): Int = {
    var la = a.numBytes
    var lb = b.numBytes
    if (math.abs(la - lb) > t) return -1
    // strip common prefix, then common suffix of the remainders — neither
    // changes unit-cost Levenshtein
    var p = 0
    val minL = math.min(la, lb)
    while (p < minL && a.getByte(p) == b.getByte(p)) p += 1
    while (la > p && lb > p && a.getByte(la - 1) == b.getByte(lb - 1)) {
      la -= 1; lb -= 1
    }
    val m = la - p
    val n = lb - p
    if (m == 0) return n // n <= t by the length gate
    if (n == 0) return m
    dp(m, n, t,
      (i: Int) => a.getByte(p + i).toInt, (j: Int) => b.getByte(p + j).toInt)
  }

  private def codePoints(s: UTF8String): Array[Int] = {
    val str = s.toString
    val out = new Array[Int](str.codePointCount(0, str.length))
    var i = 0
    var k = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      out(k) = cp; k += 1; i += Character.charCount(cp)
    }
    out
  }

  private def withinCodePoints(a: Array[Int], b: Array[Int], t: Int): Int = {
    var la = a.length
    var lb = b.length
    if (math.abs(la - lb) > t) return -1
    var p = 0
    val minL = math.min(la, lb)
    while (p < minL && a(p) == b(p)) p += 1
    while (la > p && lb > p && a(la - 1) == b(lb - 1)) { la -= 1; lb -= 1 }
    val m = la - p
    val n = lb - p
    if (m == 0) return n
    if (n == 0) return m
    dp(m, n, t, (i: Int) => a(p + i), (j: Int) => b(p + j))
  }

  /** Two-row unit-cost DP over the stripped middles with a row-minimum
    * early exit: once every cell of a row exceeds `t`, no path back under
    * it exists. Middles are tiny for near pairs (the strip did the work);
    * far pairs exit after <= t+1 rows.
    */
  private def dp(m: Int, n: Int, t: Int,
      ca: Int => Int, cb: Int => Int): Int = {
    val big = t + 1
    var prev = new Array[Int](n + 1)
    var cur = new Array[Int](n + 1)
    var j = 0
    while (j <= n) { prev(j) = if (j <= t) j else big; j += 1 }
    var i = 1
    while (i <= m) {
      cur(0) = if (i <= t) i else big
      var rowMin = cur(0)
      val ai = ca(i - 1)
      j = 1
      while (j <= n) {
        val sub = prev(j - 1) + (if (ai == cb(j - 1)) 0 else 1)
        val del = prev(j) + 1
        val ins = cur(j - 1) + 1
        var v = if (sub < del) sub else del
        if (ins < v) v = ins
        if (v > big) v = big // clamp: keeps cells bounded, exit exact
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > t) return -1
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    if (prev(n) > t) -1 else prev(n)
  }

  def apply(a: Column, b: Column, t: Int): Column =
    ExpressionUtils.column(EditDistanceWithin(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b), t))
}
