package org.apache.spark.sql.graft

import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** The Sennrich et al. 2016 BPE merge loop over a weighted word table, in
  * plain Scala — the body of the ONE task [[graft.ops.TextAnalysis.trainBpeMerges]]
  * runs after its distributed word-frequency aggregation.
  *
  * Incremental, the way single-machine trainers work: a live count per
  * adjacent pair (overlapping occurrences count, `aaa` holds two `(a,a)`s)
  * and, per pair, the words that hold it. Each rank rewrites ONLY the
  * winner's words, through [[BpeMergeAdjacent.mergeSyms]] (the kernel's own
  * greedy-leftmost rule), and applies the per-word pair-count difference.
  * The winner comes off a max-heap with lazy invalidation — an entry is
  * live iff its count still equals the pair's current count; every count
  * change pushes a fresh entry — so a rank costs the winner's words plus
  * O(log heap), never a rescan of every pair.
  *
  * Winner order: count DESC, then `(l, r)` in [[UTF8String]] binary order —
  * exactly Spark's string ordering, so the table replays in any engine.
  * Input order is irrelevant: counts are sums and the order is total.
  */
object BpeTrainer {
  private final case class Pair(l: UTF8String, r: UTF8String)

  /** A pair's live count plus every word index that gained it; a word may
    * be listed more than once or after it lost the pair (the rewrite skips
    * both cases).
    */
  private final class Stat {
    var n = 0L
    val holders = mutable.ArrayBuffer.empty[Int]
  }

  private final class Cand(val n: Long, val p: Pair)

  private val winnerFirst: java.util.Comparator[Cand] = (a: Cand, b: Cand) => {
    val c = java.lang.Long.compare(b.n, a.n)
    if (c != 0) c
    else {
      val cl = a.p.l.compareTo(b.p.l)
      if (cl != 0) cl else a.p.r.compareTo(b.p.r)
    }
  }

  /** Learn up to `numMerges` merges from `(cnt, syms)` words; returns
    * `(rank, left, right, merged, n)` rows, fewer when every word has
    * collapsed to one symbol.
    */
  def train(words: Iterator[(Long, Array[UTF8String])],
      numMerges: Int): Array[(Int, String, String, String, Long)] = {
    val cnt = mutable.ArrayBuffer.empty[Long]
    val syms = mutable.ArrayBuffer.empty[Array[UTF8String]]
    val stats = new java.util.HashMap[Pair, Stat]()
    def stat(p: Pair): Stat = stats.computeIfAbsent(p, _ => new Stat)
    words.foreach { case (c, w) =>
      val idx = syms.length
      cnt += c
      syms += w
      var i = 0
      while (i + 1 < w.length) {
        val s = stat(Pair(w(i), w(i + 1)))
        s.n += c
        // a word's pairs arrive together: one holder entry per word
        if (s.holders.isEmpty || s.holders.last != idx) s.holders += idx
        i += 1
      }
    }
    val heap = new java.util.PriorityQueue[Cand](math.max(stats.size, 1), winnerFirst)
    stats.forEach((p, s) => heap.add(new Cand(s.n, p)))
    val visited = new Array[Int](syms.length) // rank that last rewrote each word
    val out = mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var rank = 1
    while (rank <= numMerges && !heap.isEmpty) {
      val top = heap.poll()
      val won = stats.get(top.p)
      if (won != null && won.n == top.n) {
        val Pair(l, r) = top.p
        val m = UTF8String.concat(l, r)
        out += ((rank, l.toString, r.toString, m.toString, top.n))
        stats.remove(top.p)
        val changed = mutable.HashSet.empty[Pair]
        won.holders.foreach { w =>
          if (visited(w) != rank) {
            visited(w) = rank
            val before = syms(w)
            val after = BpeMergeAdjacent.mergeSyms(before, l, r, m)
            if (after ne before) {
              syms(w) = after
              // per-word occurrence difference, weighted by the word count;
              // the winner itself is gone from every word it was in
              val delta = mutable.HashMap.empty[Pair, Int]
              var i = 0
              while (i + 1 < before.length) {
                val p = Pair(before(i), before(i + 1))
                delta(p) = delta.getOrElse(p, 0) - 1
                i += 1
              }
              i = 0
              while (i + 1 < after.length) {
                val p = Pair(after(i), after(i + 1))
                delta(p) = delta.getOrElse(p, 0) + 1
                i += 1
              }
              delta.foreach { case (p, d) =>
                if (d != 0 && p != top.p) {
                  val s = stat(p)
                  s.n += d.toLong * cnt(w)
                  if (d > 0) s.holders += w
                  changed += p
                }
              }
            }
          }
        }
        changed.foreach { p =>
          val s = stats.get(p)
          if (s.n > 0) heap.add(new Cand(s.n, p)) else stats.remove(p)
        }
        rank += 1
      }
    }
    out.toArray
  }
}
