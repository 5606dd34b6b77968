package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, explode, flatten, collect_list, length, lit, posexplode, sequence, transform, when}

class TextAnalysisSpec extends SparkTestBase {

  private def doc(text: String): DataFrame = {
    import spark.implicits._
    Seq((1L, text)).toDF("doc_id", "text")
  }

  test("tokenStats: exact counts on a crafted doc") {
    val r = TextAnalysis.tokenStats(doc("Hello world, hello Spark 42!"), "doc_id", "text")
      .collect().head
    assert(r.getAs[Int]("n_chars") == 28)
    assert(r.getAs[Int]("n_tokens") == 5) // hello world, hello spark 42!
    assert(r.getAs[Int]("n_distinct_tokens") == 4) // "hello" repeats (lowercased)
    // BPE-ish: Hello|world|,|hello|Spark|42|! = 7
    assert(r.getAs[Int]("n_bpe_tokens") == 7)
    assert(r.getAs[Int]("n_long_tokens") == 4) // hello world, hello spark
  }

  test("qualityScore: in [0,1]; repetitive text scores below varied text") {
    val varied = "the cat sat on a mat and then ran to the big red house nearby today"
    val spam = Seq.fill(20)("buy").mkString(" ")
    val out = TextAnalysis.qualityScore(
      doc(varied).union(doc(spam)), "doc_id", "text").collect()
    val scores = out.map(_.getAs[Double]("quality_score"))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    val Array(v, s) = scores
    assert(v > s, s"varied=$v spam=$s")
  }

  test("languageId: detects planted languages by stopword ratio") {
    import spark.implicits._
    val samples = Seq(
      (1L, "the cat is on the mat and it was a good day for the dog"),
      (2L, "el perro y el gato en la casa de la abuela con los amigos"),
      (3L, "der Hund und die Katze sind mit dem Mann auf der Straße"),
      (4L, "le chat et le chien dans la maison pour les amis du village"),
      (5L, "zzz qqq xxx yyy www vvv"), // no stopwords at all
    ).toDF("doc_id", "text")
    val out = TextAnalysis.languageId(samples, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang")).toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "fr", 5L -> "und"))
  }

  test("packSequences: offsets accumulate per group, bins cut at the budget") {
    import spark.implicits._
    val docsDf = Seq(
      (1L, "a b c", "s1"), // 3 tokens, start 0, bin 0
      (2L, "d e f g", "s1"), // start 3, bin 0
      (3L, "h i", "s1"), // start 7, bin 1 (budget 5)
      (10L, "x y z", "s2"), // independent group: start 0, bin 0
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.packSequences(docsDf, "doc_id", "text",
      tokenBudget = 5, partitionKey = "source").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("start_offset"), r.getAs[Long]("bin"))).toMap
    assert(out == Map(1L -> (0L, 0L), 2L -> (3L, 0L), 3L -> (7L, 1L), 10L -> (0L, 0L)))
  }

  test("fingerprint: stable under word order and repetition, differs on content") {
    val fp = (t: String) => TextAnalysis.fingerprintDocs(doc(t), "doc_id", "text")
      .collect().head.getAs[String]("fingerprint")
    assert(fp("alpha beta gamma") == fp("gamma alpha beta alpha"))
    assert(fp("alpha beta gamma") != fp("alpha beta delta"))
  }

  test("chunkDocuments: stride windows, short tail, empty doc yields no chunks") {
    import spark.implicits._
    val df = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7"), // 7 tokens, chunk=3 stride=2 -> starts 0,2,4,6
      (2L, "a b"),                  // 2 tokens -> one short chunk
      (3L, "   ")                   // no tokens -> no chunks
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(df, "doc_id", "text", chunkTokens = 3, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    assert(out.filter(_._1 == 1L).toSeq.sortBy(_._2) === Seq(
      (1L, 0, "t1 t2 t3", 3), (1L, 1, "t3 t4 t5", 3),
      (1L, 2, "t5 t6 t7", 3), (1L, 3, "t7", 1)))
    assert(out.filter(_._1 == 2L).toSeq === Seq((2L, 0, "a b", 2)))
    assert(!out.exists(_._1 == 3L))
  }

  test("chunkDocuments: pure projection plan, no exchange") {
    import spark.implicits._
    val df = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val plan = TextAnalysis.chunkDocuments(df, "doc_id", "text", 2, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("rareTokenStats: corpus-wide counts, empty doc kept with zeros") {
    import spark.implicits._
    val df = Seq(
      (1L, "common common unique1"),  // "common" appears 4x corpus-wide
      (2L, "common common unique2"),
      (3L, " ")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.rareTokenStats(df, "doc_id", "text", maxCount = 2L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // uniqueN count 1 <= 2 -> rare; "common" count 4 -> not rare
    assert(out(1L) === ((3L, 1L, math.rint(1.0 / 3.0 * 1e6) / 1e6)))
    assert(out(2L) === ((3L, 1L, math.rint(1.0 / 3.0 * 1e6) / 1e6)))
    assert(out(3L) === ((0L, 0L, 0.0)))
  }

  test("topNgramStats: counts repeats, deterministic tie-break, char fraction") {
    import spark.implicits._
    val df = Seq(
      (1L, "ab cd ab cd ab"),   // 2-grams: "ab cd"x2, "cd ab"x2 -> tie, pick "cd ab"
      (2L, "xx yy zz"),         // all grams unique -> top count 1, pick "yy zz"
      (3L, "w")                 // < 2 tokens -> whole-doc gram
    ).toDF("doc_id", "text")
    val out = TextAnalysis.topNgramStats(df, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(1L)._1 === "cd ab" && out(1L)._2 === 2L && out(1L)._3 === 4L)
    assert(out(1L)._4 === math.rint(2 * 5 / 14.0 * 1e6) / 1e6)
    assert(out(2L) === (("yy zz", 1L, 2L, 5.0 / 8.0)))
    assert(out(3L)._1 === "w" && out(3L)._2 === 1L)
  }

  test("filterLines: the three C4 rules apply per line; docs reassemble; empty lines are separators") {
    import spark.implicits._
    val df = Seq(
      (1L, "this line ends with punctuation.\nno terminal punct here\n" +
        "too short.\n\n\nplease enable javascript now.\nAnother good line!"),
      (2L, "lorem ipsum dolor sit amet.\ncode { body: red }.\nall three rules pass?"),
      (3L, ""),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.filterLines(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: 5 non-empty lines; survivors = rule-passing lines in order
    assert(out(1L) === (("this line ends with punctuation.\nAnother good line!", 5L, 2L)))
    // doc 2: 'lorem ipsum' and '{' are blocked substrings
    assert(out(2L) === (("all three rules pass?", 3L, 1L)))
    assert(out(3L) === (("", 0L, 0L)))
    assert(out(4L) === (("", 0L, 0L)))
    // rules are parameters: relaxing punctuation keeps the bare line
    val relaxed = TextAnalysis.filterLines(df, "doc_id", "text",
        requireTerminalPunct = false)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(relaxed(1L).contains("no terminal punct here"))
    // scale shape: pure projection, zero exchanges
    val plan = TextAnalysis.filterLines(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("gopherFilter: every rule verdict isolates its own violation; cross-multiplied thresholds") {
    import spark.implicits._
    val good = "the tiger and the lion were waiting.\nthe hunters kept watching them all."
    val df = Seq(
      (1L, good),                                        // passes every rule
      (2L, "- the cats sat here fine.\n- the dogs ran there too."), // 100% bullets
      (3L, "the cats sat here fine...\nthe dogs ran there too..."), // 100% ellipsis
      (4L, "the cats sat here fine.\nthe cats sat here fine."),     // 50% dup lines
      (5L, "### the ### cats ### sat ### here ###."),               // symbol-heavy
      (6L, "111 222 333 444 the 555 666 777 888 999 000 the"),      // 17% alpha words
      (7L, "a b c d e f g the h i the j"),               // mean word length 1.25 < 3
      (8L, "tigers lions"),                              // below minWords
      (9L, null.asInstanceOf[String])                    // null = empty doc
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherFilter(df, "doc_id", "text",
      minWords = 5, maxWords = 100)
      .collect().map(r => r.getLong(0) -> r).toMap
    def flag(id: Long, name: String): Boolean =
      out(id).getBoolean(out(id).fieldIndex(name))
    assert(flag(1L, "keep"), out(1L).toString)
    assert(!flag(2L, "bullet_ok") && flag(2L, "ellipsis_ok") && !flag(2L, "keep"))
    assert(!flag(3L, "ellipsis_ok") && flag(3L, "bullet_ok") && !flag(3L, "keep"))
    assert(!flag(4L, "dup_line_ok") && !flag(4L, "keep"))
    assert(!flag(5L, "symbol_ok") && !flag(5L, "keep"))
    assert(!flag(6L, "alpha_ok") && !flag(6L, "keep"))
    assert(!flag(7L, "mean_word_len_ok") && !flag(7L, "keep"))
    // short doc: ONLY the word-count rule fires — ratio rules stay vacuous
    assert(!flag(8L, "words_ok") && flag(8L, "mean_word_len_ok") &&
      flag(8L, "alpha_ok") && !flag(8L, "keep"))
    // null text = the empty document: zero counters, never a dropped row
    assert(out(9L).getLong(out(9L).fieldIndex("n_words")) === 0L)
    assert(!flag(9L, "words_ok") && flag(9L, "symbol_ok") && !flag(9L, "keep"))
    assert(out.size === 9)
    // counters exact on the hand case: 13 words, 2 lines, stopword hits
    // (the ×3 + and + were... from the list: the, and, all)
    assert(out(1L).getLong(out(1L).fieldIndex("n_words")) === 13L)
    assert(out(1L).getLong(out(1L).fieldIndex("n_lines")) === 2L)
    assert(out(1L).getLong(out(1L).fieldIndex("n_distinct_lines")) === 2L)
    // scale shape: one staged scan-speed projection, zero exchanges
    val plan = TextAnalysis.gopherFilter(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // thresholds are exact integer percentages: 3 of 10 lines dup = 30%
    // passes maxDupLinePct=30 (<=), 31% would fail — pin the boundary
    val boundary = Seq((1L, Seq.fill(3)("dup dup dup dup dup.").mkString("\n") +
      "\n" + (1 to 7).map(i => s"unique line number $i x.").mkString("\n")))
      .toDF("doc_id", "text")
    val b = TextAnalysis.gopherFilter(boundary, "doc_id", "text",
      minWords = 1).collect().head
    assert(b.getLong(b.fieldIndex("n_lines")) === 10L)
    assert(b.getLong(b.fieldIndex("n_distinct_lines")) === 8L)
    assert(b.getBoolean(b.fieldIndex("dup_line_ok"))) // 2/10 = 20% <= 30%
  }

  test("extractHtmlText: blocks vanish with contents, tags strip, entities decode once") {
    import spark.implicits._
    val df = Seq(
      (1L, "<html><head><style>p { a: b }</style><script>if (x < 3) y();</script>" +
        "</head><body><h1 class=\"t\">Title</h1><p>Body &amp; soul</p></body></html>"),
      (2L, "plain text, no markup"),
      (3L, "a &amp;lt; b &#39;q&#39; x&nbsp;y"), // decode-once trap
      (4L, "<div><div><span>deep</span></div></div>"),
      (5L, null.asInstanceOf[String]),
      (6L, "<p>unclosed")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.extractHtmlText(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    // script CONTENT (with its '<' comparison!) and style content are gone
    assert(out(1L) === (("Title Body & soul", 17)))
    assert(out(2L) === (("plain text, no markup", 21)))
    // &amp;lt; decodes ONCE to the literal &lt; — never twice to '<'
    assert(out(3L) === (("a &lt; b 'q' x y", 16)))
    assert(out(4L) === (("deep", 4)))
    assert(out(5L) === (("", 0))) // null text: empty extraction, row kept
    assert(out(6L) === (("unclosed", 8)))
    // scale shape: pure projection, zero exchanges
    val plan = TextAnalysis.extractHtmlText(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("normalizeText: control chars out, ASCII fold, space runs collapse, idempotent") {
    import spark.implicits._
    val df = Seq(
      (1L, "  Hello\t\tWORLD\u0001x  y  "),
      (2L, "already clean"),
      (3L, "\u0000\u001f\u007f") // all-control doc -> empty
    ).toDF("doc_id", "text")
    val out = TextAnalysis.normalizeText(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out(1L) === (("hello world x y", 15)))
    assert(out(2L) === (("already clean", 13)))
    assert(out(3L) === (("", 0)))
    // idempotent: normalizing normalized text is the identity
    val once = TextAnalysis.normalizeText(df, "doc_id", "text")
      .select(col("doc_id"), col("text_norm").as("text"))
    val twice = TextAnalysis.normalizeText(once, "doc_id", "text")
    assert(once.orderBy("doc_id").collect().map(_.getString(1)).toSeq ===
      twice.orderBy("doc_id").collect().map(_.getString(1)).toSeq)
  }

  test("cooccurrence: windowed ordered pairs, counts and doc frequency, deterministic top-k cut") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c a b"), // window 2 pairs: ab ac bc ba ca ab -> (a,b)x2 ...
      (2L, "a b"),
      (3L, "x") // single token -> no pairs
    ).toDF("doc_id", "text")
    val out = TextAnalysis.cooccurrence(df, "doc_id", "text", window = 2, topK = 100)
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out(("a", "b")) === ((3L, 2L))) // twice in doc 1, once in doc 2
    assert(out(("a", "c")) === ((1L, 1L)))
    assert(out(("b", "c")) === ((1L, 1L)))
    assert(out(("b", "a")) === ((1L, 1L))) // ordered pairs: (b,a) distinct from (a,b)
    assert(out(("c", "a")) === ((1L, 1L)))
    assert(!out.contains(("a", "a")))
    // topK cut is by (count desc, a, b): with topK=1 the (a,b) pair wins
    val top1 = TextAnalysis.cooccurrence(df, "doc_id", "text", 2, 1).collect()
    assert(top1.map(r => (r.getString(0), r.getString(1))).toSeq === Seq(("a", "b")))
  }

  test("topTermsPerDoc: tf/df ranking, lexicographic ties, k bounds output") {
    import spark.implicits._
    val df = Seq(
      (1L, "rare rare common"), // "rare" tf=2 df=1 -> score 2.0 beats common 1/2
      (2L, "common unique")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.topTermsPerDoc(df, "doc_id", "text", k = 1)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(4)))).toMap
    assert(out(1L) === (("rare", 2.0)))
    assert(out(2L) === (("unique", 1.0))) // unique 1/1 beats common 1/2
    val all = TextAnalysis.topTermsPerDoc(df, "doc_id", "text", k = 5)
      .collect()
    assert(all.length === 4) // bounded by distinct terms per doc
  }

  test("invertedIndex: exact df/tf, postings capped to the lowest ids, sorted") {
    import spark.implicits._
    val df = Seq(
      (5L, "b a b"),
      (1L, "a b"),
      (3L, "a a"),
      (2L, "a")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.invertedIndex(df, "doc_id", "text", maxPostings = 3)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getSeq[Long](3).toSeq))).toMap
    // 'a': 5 occurrences over docs {1,2,3,5} -> capped to lowest 3 ids
    assert(out("a") === ((5L, 4L, Seq(1L, 2L, 3L))))
    assert(out("b") === ((3L, 2L, Seq(1L, 5L))))
  }

  test("packSequencesFFD: classic first-fit-decreasing placement, hand-checked") {
    import spark.implicits._
    // tokens: a=6, b=5, c=4, d=3, e=2; budget 8
    // FFD order a,b,c,d,e -> bins: [a=6], [b=5], then c: bin0 6+4>8, bin1
    // 5+4>8 -> new [c=4]; d: bin0 6+3>8? 9>8 yes -> bin1 5+3=8 ok; e: bin0 6+2=8
    val docs = Seq(
      (1L, "t t t t t t"), (2L, "t t t t t"), (3L, "t t t t"),
      (4L, "t t t"), (5L, "t t")
    ).map { case (id, tx) => (id, tx, "s0") }.toDF("doc_id", "text", "shard")
    val out = TextAnalysis.packSequencesFFD(docs, "doc_id", "text", 8, "shard")
      .collect().map(r => r.getLong(1) -> r.getInt(3)).toMap
    assert(out === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 0))
  }

  test("packSequencesFFD: budget respected, oversize isolated, dense bins, deterministic") {
    import spark.implicits._
    val docs = (1 to 200).map { i =>
      val n = 1 + (i * 37) % 60 // sizes 1..60, some > budget 40
      (i.toLong, Seq.fill(n)("w").mkString(" "), s"shard${i % 3}")
    }.toDF("doc_id", "text", "shard")
    val out = TextAnalysis.packSequencesFFD(docs, "doc_id", "text", 40, "shard")
    val rows = out.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getBoolean(4)))
    // every oversize doc is alone in its bin; no regular bin exceeds budget
    rows.groupBy(r => (r._1, r._4)).foreach { case ((_, _), binRows) =>
      if (binRows.exists(_._5)) assert(binRows.length === 1, "oversize doc alone")
      else assert(binRows.map(_._3).sum <= 40, "bin within budget")
    }
    // bins are dense 0..max per shard, and count >= the volume lower bound
    rows.groupBy(_._1).foreach { case (_, shardRows) =>
      val bins = shardRows.map(_._4).distinct.sorted
      assert(bins === (0 until bins.length).toArray.toSeq)
      val regular = shardRows.filterNot(_._5)
      val lower = math.ceil(regular.map(_._3).sum / 40.0).toInt
      assert(bins.length >= lower)
    }
    // pure function of the data, not the partitioning
    val again = TextAnalysis.packSequencesFFD(docs.repartition(11), "doc_id", "text", 40, "shard")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet
    assert(again === rows.map(r => (r._1, r._2, r._4)).toSet)
  }

  test("tokenizeToIds: typed array<int> ids in order, OOV mapped, empty docs keep empty array") {
    import spark.implicits._
    val vocab = Seq(("hello", 0), ("world", 1)).toDF("token", "token_id")
    val docs = Seq(
      (1L, "world hello world"),
      (2L, "hello mars"), // mars is OOV
      (3L, " ") // token-empty
    ).toDF("doc_id", "text")
    val result = TextAnalysis.tokenizeToIds(docs, "doc_id", "text", vocab)
    assert(result.schema("ids").dataType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false))
    val out = result.collect().map(r => r.getLong(0) ->
      (r.getSeq[Int](1), r.getLong(2), r.getLong(3))).toMap
    assert(out === Map(
      1L -> ((Seq(1, 0, 1), 3L, 0L)),
      2L -> ((Seq(0, -1), 2L, 1L)),
      3L -> ((Seq.empty[Int], 0L, 0L))))
  }

  test("tokenizeToIds: duplicate positions impossible, repetition round-trips through ids") {
    import spark.implicits._
    val vocab = Seq(("a", 7)).toDF("token", "token_id")
    val docs = Seq((1L, "a a a a")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenizeToIds(docs, "doc_id", "text", vocab).collect()(0)
    assert(out.getSeq[Int](1) === Seq(7, 7, 7, 7) && out.getLong(2) === 4L)
  }

  test("lmScore: hand-computed fixed-point bigram scores, smoothing, pruning, short docs") {
    import spark.implicits._
    // train "a b a b": c(a b)=2, c(b a)=1; prefix a→2, b→1; V=2
    val train = Seq((0L, "a b a b")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b"), // seen pair: q = (2+1)*2^20 div (2+2) = 786432
      (2L, "b a"), // seen pair: q = (1+1)*2^20 div (1+2) = 699050
      (3L, "z q"), // unseen pair AND prefix: q = 1*2^20 div (0+2) = 524288
      (4L, "a"), // one token: no bigrams, lm_q null
      (5L, " ") // token-empty: same
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(train, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(out(1L) === ((1L, 786432L, Some(786432.0))))
    assert(out(2L) === ((1L, 699050L, Some(699050.0))))
    assert(out(3L) === ((1L, 524288L, Some(524288.0))))
    assert(out(4L) === ((0L, 0L, None)))
    assert(out(5L) === ((0L, 0L, None)))
    // minCount=2 prunes (b a) from the pair table but NOT from the prefix
    // mass: doc "b a" now scores as unseen against the same denominator
    val pruned = TextAnalysis.lmScore(train, docs, "doc_id", "text", minCount = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(pruned(1L) === 786432L, "frequent pair survives pruning")
    assert(pruned(2L) === 1048576L / 3L, "pruned pair scores as unseen: 1*2^20 div (1+2)")
  }

  test("lmScore: fluent in-distribution docs outrank shuffled-token docs") {
    import spark.implicits._
    val sentences = Seq(
      "the cat sat on the mat", "the dog sat on the rug",
      "a cat ran to the mat", "the dog ran to the rug",
      "the cat and the dog sat on the mat")
    val train = sentences.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val docs = Seq(
      (100L, "the cat sat on the rug"), // fluent: every bigram trained
      (101L, "rug the on cat sat the") // same tokens, bigrams broken
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(train, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(100L) > out(101L),
      s"fluent ${out(100L)} must outrank shuffled ${out(101L)}")
  }

  /** Reference BPE (Sennrich et al. 2016 training loop) in plain Scala —
    * the spec oracle [[TextAnalysis.trainBpeMerges]] must replay exactly.
    */
  private def referenceBpe(texts: Seq[String], numMerges: Int): Seq[(Int, String, String, String, Long)] = {
    val wc = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    texts.foreach(_.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
      .filter(_.forall(ch => ch >= 0x21 && ch <= 0x7e)).foreach(w => wc(w) += 1))
    var words: Map[String, Vector[String]] = wc.keys.map(w => w -> w.map(_.toString).toVector).toMap
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    for (k <- 1 to numMerges) {
      val stats = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      words.foreach { case (w, syms) =>
        syms.sliding(2).filter(_.size == 2).foreach(p => stats((p(0), p(1))) += wc(w))
      }
      if (stats.nonEmpty) {
        val ((l, r), n) = stats.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((k, l, r, l + r, n))
        words = words.map { case (w, syms) =>
          val nu = Vector.newBuilder[String]
          var i = 0
          while (i < syms.size) {
            if (i + 1 < syms.size && syms(i) == l && syms(i + 1) == r) { nu += l + r; i += 2 }
            else { nu += syms(i); i += 1 }
          }
          w -> nu.result()
        }
      }
    }
    out.toSeq
  }

  test("trainBpeMerges: replays the reference BPE loop exactly (ranks, pairs, counts)") {
    import spark.implicits._
    val texts = Seq(
      "low low low low low lower lower newest newest newest newest newest newest",
      "widest widest widest aaaa bb aaaa", // aaaa: overlapping (a,a) counts
      "schön ignored", // non-ASCII word excluded from training
      "  MIXED Case  mixed case ") // normalization: lowercase + trim
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextAnalysis.trainBpeMerges(docs, "text", numMerges = 10)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    val ref = referenceBpe(texts, 10)
    assert(got === ref)
    // greedy leftmost non-overlap: after the (a,a) merge, "aaaa" is [aa, aa],
    // so the (aa, aa) pair must eventually be learnable — sanity on semantics
    assert(got.exists(m => m._2 == "a" && m._3 == "a"))
  }

  test("trainBpeMerges: deterministic under repartition; empty corpus yields zero merges") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${sf()}/documents.parquet").limit(40)
    val a = TextAnalysis.trainBpeMerges(docs, "text", 6).collect().toSeq
    val b = TextAnalysis.trainBpeMerges(docs.repartition(7), "text", 6).collect().toSeq
    assert(a === b, "merge table must be partition-order independent")
    assert(a.size === 6)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = TextAnalysis.trainBpeMerges(empty, "text", 4)
    assert(out.count() === 0L)
    assert(out.columns.toSeq === Seq("rank", "left_sym", "right_sym", "merged", "n"))
    // single-symbol-only vocab exhausts before numMerges instead of spinning
    val tiny = Seq((1L, "a b c a")).toDF("doc_id", "text")
    assert(TextAnalysis.trainBpeMerges(tiny, "text", 5).count() === 0L)
  }

  test("trainWordPieceMerges: LIKELIHOOD argmax beats raw frequency; ## seeding; marker-stripped merge") {
    import spark.implicits._
    // "xy" x10 dominates by frequency, but (z, ##w) has the higher
    // likelihood ratio: 1·10¹²/(1·1) vs 10·10¹²/(10·10) — the criterion
    // that distinguishes WordPiece from BPE must pick (z, ##w) FIRST
    val docs = Seq((1L, ("xy " * 10) + "zw")).toDF("doc_id", "text")
    val got = TextAnalysis.trainWordPieceMerges(docs, "text", numMerges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq === Seq(
      (1, "z", "##w", "zw", 1L, 1000000000000L),
      // after zw fuses, only (x, ##y) remains: 10·10¹²/(10·10)
      (2, "x", "##y", "xy", 10L, 100000000000L)))
    // rank 3 is exhausted (every word one symbol) — 2 rows, not 5
    assert(got.length === 2)
    // '#'-containing raw words are excluded from training (reserved marker)
    val withHash = Seq((1L, "ab ab a#b a#b a#b")).toDF("doc_id", "text")
    val m = TextAnalysis.trainWordPieceMerges(withHash, "text", 3).collect()
    assert(m.map(_.getString(3)).toSeq === Seq("ab"))
  }

  test("wordPieceEncode: greedy longest match, whole-word UNK, opaque out-of-domain") {
    import spark.implicits._
    val train = Seq((1L, ("xy " * 10) + "zw")).toDF("doc_id", "text")
    val merges = TextAnalysis.trainWordPieceMerges(train, "text", 5)
    val vocab = TextAnalysis.wordPieceAlphabet(train, "text")
      .unionByName(merges.select(col("merged").as("piece")))
    val docs = Seq(
      (1L, "xy zw x"),          // trained words + bare alphabet char
      (2L, "xz"),               // x matches, ##z unseen -> whole word [UNK]
      (3L, "yx"),               // 'y' never word-initial -> [UNK] at pos 0
      (4L, "a#b 日本 " + ("x" * 13)), // reserved #, non-printable, over-long: all opaque
      (5L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.wordPieceEncode(docs, "doc_id", "text", vocab)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(got(1L) === ((3, "xy zw x")))
    assert(got(2L) === ((1, "[UNK]")))
    assert(got(3L) === ((1, "[UNK]")))
    assert(got(4L) === ((3, "a#b 日本 " + ("x" * 13))))
    assert(got(5L) === ((0, "")))
    // longest-match-first: with both 'x' and 'xy' in vocab, "xyx" takes
    // xy then x — never three singles
    val g2 = TextAnalysis.wordPieceEncode(
      Seq((9L, "xyx")).toDF("doc_id", "text"), "doc_id", "text",
      vocab.unionByName(Seq("##x").toDF("piece")))
      .collect().head
    assert((g2.getInt(1), g2.getString(2)) === ((2, "xy ##x")))
  }

  test("languageConsistency: foreign block flags mixed; und chunks never count as a language") {
    import spark.implicits._
    // 160 en tokens: chunk-aligned so the German block owns its own chunk
    val en = Seq.fill(16)("the cat sat on the mat and it was a day").mkString(" ")
    val de = Seq.fill(4)("der die das und ist von mit den im auf").mkString(" ")
    val noise = Seq.fill(5)("zzqq kkrr vvpp mmnn ttss xxyy hhgg ffdd").mkString(" ")
    val docs = Seq(
      (1L, en + " " + de),   // English body + a German block -> mixed
      (2L, en),              // monolingual -> not mixed
      (3L, en + " " + noise),// und chunks: no second LANGUAGE -> not mixed
      (4L, noise),           // all und: zero languages, majority 'und'
      (5L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.languageConsistency(docs, "doc_id", "text",
      chunkTokens = 40)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4),
          r.getBoolean(5)))).toMap
    val (n1, l1, top1, ppm1, mix1) = got(1L)
    assert(mix1 && l1 === 2L && top1 === "en" && ppm1 > 500000L && n1 >= 3L)
    val (_, l2, top2, ppm2, mix2) = got(2L)
    assert(!mix2 && l2 === 1L && top2 === "en" && ppm2 === 1000000L)
    val (_, l3, top3, _, mix3) = got(3L)
    assert(!mix3 && l3 === 1L && top3 === "en")
    assert(got(4L) === ((1L, 0L, "und", 1000000L, false)))
    // token-empty docs emit nothing
    assert(!got.contains(5L))
  }

  test("trainBpeMerges: samplePercent trains on the deterministic md5-bucket subset") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${sf()}/documents.parquet").limit(60)
    // the sampled train must equal training on the hashSample subset
    // explicitly — the parameter IS the documented rule, nothing more
    val sampled = TextAnalysis.trainBpeMerges(docs, "text", 5, samplePercent = 60)
      .collect().toSeq
    val explicit = TextAnalysis.trainBpeMerges(
      Sampling.hashSample(docs, "text", 60), "text", 5).collect().toSeq
    assert(sampled === explicit)
    assert(sampled.size === 5)
    // reproducible across partitionings (pure function of (corpus, percent))
    val again = TextAnalysis.trainBpeMerges(
      docs.repartition(9), "text", 5, samplePercent = 60).collect().toSeq
    assert(again === sampled)
    // a sample that selects zero rows falls back to the full corpus
    // instead of silently training an empty tokenizer
    val one = Seq((1L, "zq zq zq")).toDF("doc_id", "text")
    val pct = Sampling.hashSample(one, "text", 1).count()
    if (pct == 0) { // "zq zq zq" buckets above 1% — the fallback path fires
      val fb = TextAnalysis.trainBpeMerges(one, "text", 1, samplePercent = 1)
        .collect().toSeq
      assert(fb === TextAnalysis.trainBpeMerges(one, "text", 1).collect().toSeq)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.trainBpeMerges(docs, "text", 5, samplePercent = 0)
    }
  }

  test("trainBpeMerges: superseded per-rank checkpoints are released (no storage leak)") {
    import spark.implicits._
    // a merge loop that persisted per-rank vocabulary snapshots would retain
    // one dead copy per rank in executor storage. The trainer must leave
    // NOTHING persisted behind (the merge table is driver-local), so the
    // persistent-RDD census is flat.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = Seq(
      (1L, "low low lower newest newest widest"),
      (2L, "newest lowest low widest widest")).toDF("doc_id", "text")
    val merges = TextAnalysis.trainBpeMerges(docs, "text", numMerges = 8)
    assert(merges.count() === 8L)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"trainBpeMerges left ${leaked.size} checkpointed RDDs persisted: $leaked")
  }

  test("trainWordPieceMerges: superseded per-rank checkpoints are released (no storage leak)") {
    import spark.implicits._
    // the numMerges exit is the path that used to keep one generation: the
    // merge count must be reached, not exhausted
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = Seq(
      (1L, "low low lower newest newest widest"),
      (2L, "newest lowest low widest widest")).toDF("doc_id", "text")
    val merges = TextAnalysis.trainWordPieceMerges(docs, "text", numMerges = 8)
    assert(merges.count() === 8L)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"trainWordPieceMerges left ${leaked.size} checkpointed RDDs persisted: $leaked")
  }

  private def bpeRows(texts: Seq[String], numMerges: Int,
      byteLevel: Boolean = false): Seq[(Int, String, String, String, Long)] = {
    import spark.implicits._
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    TextAnalysis.trainBpeMerges(docs, "text", numMerges, byteLevel = byteLevel)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .sortBy(_._1).toSeq
  }

  /** Seeded corpora over a tiny alphabet: dense count ties, same-symbol
    * runs (overlapping pairs), and enough distinct words for many ranks.
    */
  private def randomCorpus(seed: Long, nDocs: Int, alphabet: Seq[String]): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nDocs) {
      Seq.fill(1 + rnd.nextInt(10)) {
        if (rnd.nextInt(5) == 0) alphabet.head * (2 + rnd.nextInt(5))
        else Seq.fill(1 + rnd.nextInt(7))(alphabet(rnd.nextInt(alphabet.size))).mkString
      }.mkString(" ")
    }
  }

  test("trainBpeMerges: in-task trainer == reference loop on seeded random corpora") {
    for (seed <- 1L to 5L) {
      val texts = randomCorpus(seed, 24, Seq("a", "b", "c", "d"))
      assert(bpeRows(texts, 60) === referenceBpe(texts, 60), s"seed $seed")
    }
    // early exhaustion: far more merges asked for than the vocabulary holds
    val small = randomCorpus(11L, 6, Seq("a", "b", "c"))
    val all = bpeRows(small, 1000)
    assert(all.size < 1000 && all === referenceBpe(small, 1000))
    // byte mode on multilingual text (2-, 3- and 4-byte UTF-8 symbols)
    for (seed <- 21L to 23L) {
      val texts = randomCorpus(seed, 16, Seq("a", "é", "日", "🙂", "b"))
      assert(bpeRows(texts, 40, byteLevel = true) === referenceByteBpe(texts, 40), s"seed $seed")
    }
  }

  test("trainBpeMerges: (l, r) tie order, overlapping runs, single-word winners") {
    // every pair counts 1: the table is the (l, r) order, left symbol first
    val ties = Seq("ca ab ac ba")
    assert(bpeRows(ties, 4).map(m => (m._2, m._3)) ===
      Seq(("a", "b"), ("a", "c"), ("b", "a"), ("c", "a")))
    assert(bpeRows(ties, 4) === referenceBpe(ties, 4))
    // overlapping runs merge greedy leftmost: aaaa -> [aa, aa], aaaaa ->
    // [aa, aa, a]; then the vocabulary runs out after three ranks
    val runs = Seq("aaaa aaaaa")
    assert(bpeRows(runs, 10) === Seq(
      (1, "a", "a", "aa", 7L), (2, "aa", "aa", "aaaa", 2L), (3, "aaaa", "a", "aaaaa", 1L)))
    assert(bpeRows(runs, 10) === referenceBpe(runs, 10))
    // the first five winners live in ONE word only (qwerty x9)
    val one = Seq("qwerty " * 9 + "ab ab ba cab", "abc bca")
    val got = bpeRows(one, 12)
    assert(got === referenceBpe(one, 12))
    assert(got.take(5).forall(m => "qwerty".contains(m._4)), got)
  }

  test("trainBpeMerges: the merge count buys no Spark jobs (one in-task loop)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val docs = spark.read.parquet(s"${sf()}/documents.parquet").limit(40)
    def jobsFor(numMerges: Int): Int = {
      val tag = s"bpe-jobs-$numMerges"
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null && e.properties.getProperty("graft.spec") == tag)
            jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setLocalProperty("graft.spec", tag)
      val merges = try {
        val m = TextAnalysis.trainBpeMerges(docs, "text", numMerges)
        org.apache.spark.GraftListenerBus.waitUntilEmpty(spark.sparkContext, 10000L)
        m
      } finally {
        spark.sparkContext.setLocalProperty("graft.spec", null)
        spark.sparkContext.removeSparkListener(listener)
      }
      assert(merges.count() === numMerges)
      jobs.get
    }
    val (j12, j48) = (jobsFor(12), jobsFor(48))
    assert(j12 === j48, s"12 merges ran $j12 jobs, 48 merges ran $j48")
    assert(j12 <= 3, s"$j12 jobs for one train")
  }

  test("bpeEncode: kernel's min-rank-first loop == rank-order replay on a TRAINED table") {
    import spark.implicits._
    import org.apache.spark.sql.graft.BpeMergeAdjacent
    val texts = Seq(
      "low lower lowest lowly slow slowly glow glowing below billow",
      "newest newer news renew newt knew sinew",
      "aaaa aab baa abab abba bbbb",
      "the cat the dog the mat on the rug")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = TextAnalysis.trainBpeMerges(docs, "text", numMerges = 15)
    val mergeList = merges.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sortBy(_._1)
    // rank-order sequential replay (what the DuckDB oracle does): start from
    // chars, apply each merge once in rank order via the training apply rule
    val seqReplay = {
      var syms = docs.select(col("doc_id"),
        explode(graft.functions.tokens(col("text"))).as("tok"))
        .withColumn("syms", transform(sequence(lit(1), length(col("tok"))),
          i => col("tok").substr(i, lit(1))))
      for ((_, l, r) <- mergeList)
        syms = syms.withColumn("syms", BpeMergeAdjacent(col("syms"), l, r))
      syms.groupBy("doc_id")
        .agg(flatten(collect_list(col("syms"))).as("subwords"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    }
    val kernel = TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
    // per-doc multiset equality isn't enough — order matters; collect_list
    // over one partition of a tiny df preserves token order per doc
    assert(kernel === seqReplay)
  }

  test("bpeEncode: hand case, opaque non-ASCII tokens, empty docs, O(1) plan in merge count") {
    import spark.implicits._
    // trained on "abab abab ab": merges learn (a,b) then (ab,ab)
    val train = Seq((0L, "abab abab ab ab")).toDF("doc_id", "text")
    val merges = TextAnalysis.trainBpeMerges(train, "text", numMerges = 2)
    val got = merges.collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(got === Seq(("a", "b"), ("ab", "ab")))
    val docs = Seq(
      (1L, "abab ab ba schön"), // schön is outside the ASCII domain: opaque
      (2L, " ")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[String](2)))).toMap
    assert(out(1L) === ((5, Seq("abab", "ab", "b", "a", "schön"))))
    assert(out(2L) === ((0, Seq.empty[String])))
    // family null policy: NULL text is zero tokens, never (id, null, null) —
    // the oracle's LEFT JOIN + coalesce shape
    val withNull = Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val nr = TextAnalysis.bpeEncode(withNull, "doc_id", "text", merges).collect().head
    assert((nr.getLong(0), nr.getInt(1), nr.getSeq[String](2)) === ((9L, 0, Seq.empty[String])))
    // plan: ONE kernel expression regardless of merge count — never a
    // chained per-rank rewrite
    val plan = TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
      .queryExecution.executedPlan.toString
    assert("graft_bpe_encode".r.findAllIn(plan).size <= 2, // projection may alias
      s"expected the single broadcast kernel:\n$plan")
    assert(!plan.contains("graft_bpe_merge"), "no per-rank chain in the encode plan")
  }

  /** Plain-Scala byte-level reference: the GPT-2-alphabet twin of
    * [[referenceBpe]] — words are space-prefixed per doc position (every
    * token but the doc's first), syms are per-UTF-8-byte alphabet chars.
    */
  private def referenceByteBpe(texts: Seq[String], numMerges: Int): Seq[(Int, String, String, String, Long)] = {
    import org.apache.spark.sql.graft.ByteAlphabet
    val wc = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    texts.foreach { t =>
      val toks = t.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
      toks.zipWithIndex.foreach { case (w, i) => wc(if (i == 0) w else " " + w) += 1 }
    }
    var words: Map[String, Vector[String]] =
      wc.keys.map(w => w -> ByteAlphabet.syms(w).toVector).toMap
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    for (k <- 1 to numMerges) {
      val stats = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      words.foreach { case (w, syms) =>
        syms.sliding(2).filter(_.size == 2).foreach(p => stats((p(0), p(1))) += wc(w))
      }
      if (stats.nonEmpty) {
        val ((l, r), n) = stats.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((k, l, r, l + r, n))
        words = words.map { case (w, syms) =>
          val nu = Vector.newBuilder[String]
          var i = 0
          while (i < syms.size) {
            if (i + 1 < syms.size && syms(i) == l && syms(i + 1) == r) { nu += l + r; i += 2 }
            else { nu += syms(i); i += 1 }
          }
          w -> nu.result()
        }
      }
    }
    out.toSeq
  }

  test("ByteAlphabet: total, reversible, and pinned to the GPT-2 table") {
    import org.apache.spark.sql.graft.ByteAlphabet
    // bijection over all 256 byte values
    assert(ByteAlphabet.codepoints.distinct.length === 256)
    // printable bytes keep their codepoint; excluded ranks are byte-ordered
    assert(ByteAlphabet.codepoints(0x41) === 0x41) // 'A'
    assert(ByteAlphabet.codepoints(0x20) === 0x120) // space -> 'Ġ'
    assert(ByteAlphabet.codepoints(0x00) === 0x100)
    assert(ByteAlphabet.codepoints(0xa9) === 0xa9) // '©' keeps itself
    assert(ByteAlphabet.codepoints(0x7f) === 0x100 + 33) // first post-control rank
    assert(ByteAlphabet.codepoints(0xad) === 0x100 + 67) // soft hyphen, last excluded
    // round trip through multi-byte UTF-8: accents, CJK, emoji (4-byte)
    for (s <- Seq("héllo wörld", "日本語テキスト", "mixed ascii + ñ", "🙂🙃", ""))
      assert(ByteAlphabet.decode(ByteAlphabet.toAlpha(s)) === s)
    // no alphabet char collides with the engine's sentinels or the space
    // the trainer joins pair keys on
    assert(!ByteAlphabet.codepoints.exists(cp => cp == 0x01 || cp == 0x02 || cp == 0x03 || cp == 0x20))
  }

  test("trainBpeMerges byteLevel: replays the byte-level reference loop on multilingual text") {
    import spark.implicits._
    val texts = Seq(
      "schön schön schön grün grün über", // 2-byte UTF-8 sequences train
      "日本語 日本語 日本 テキスト", // 3-byte CJK
      "low low lower newest newest", // ASCII still works byte-wise
      "  MIXED Case  mixed case ")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextAnalysis.trainBpeMerges(docs, "text", numMerges = 12, byteLevel = true)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    val ref = referenceByteBpe(texts, 12)
    assert(got === ref)
    // the non-ASCII text actually participates: some learned symbol must
    // contain a byte-char outside ASCII (ö = 0xc3 0xb6 -> 'Ã' '¶')
    assert(got.exists(m => m._4.exists(_ > 0x7e)),
      s"no non-ASCII byte-char in any merged symbol: ${got.map(_._4)}")
    // determinism under repartition
    val b = TextAnalysis.trainBpeMerges(docs.repartition(5), "text", 12, byteLevel = true)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(b === got)
  }

  test("bpeEncode byteLevel: kernel == rank-order replay, and subwords decode back byte-exactly") {
    import spark.implicits._
    import org.apache.spark.sql.graft.{BpeMergeAdjacent, ByteAlphabet, ByteSyms}
    val texts = Seq(
      "schön grün über schön",
      "日本語 テキスト 日本",
      "plain ascii words here",
      "mixté açaí naïve café")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = TextAnalysis.trainBpeMerges(docs, "text", numMerges = 14, byteLevel = true)
    val mergeList = merges.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sortBy(_._1)
    // rank-order sequential replay (the oracle's strategy), byte-mode start
    // state: space-prefixed tokens by doc position, ByteSyms char arrays
    val seqReplay = {
      var syms = docs.select(col("doc_id"),
        posexplode(graft.functions.tokens(col("text"))).as(Seq("pos", "tok")))
        .withColumn("syms", ByteSyms(
          when(col("pos") > 0, concat(lit(" "), col("tok"))).otherwise(col("tok"))))
      for ((_, l, r) <- mergeList)
        syms = syms.withColumn("syms", BpeMergeAdjacent(col("syms"), l, r))
      syms.groupBy("doc_id")
        .agg(flatten(collect_list(col("syms"))).as("subwords"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    }
    val kernel = TextAnalysis.bpeEncode(docs, "doc_id", "text", merges, byteLevel = true)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
    assert(kernel === seqReplay)
    // the round trip the alphabet exists for: concatenated subwords decode
    // to the space-joined (normalized) token stream, byte-exactly — no token
    // is opaque in byte mode
    for ((t, i) <- texts.zipWithIndex) {
      val expected = t.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty).mkString(" ")
      assert(ByteAlphabet.decode(kernel(i.toLong).mkString("")) === expected)
    }
    // empty + NULL docs keep the family shape
    val edge = Seq((8L, " "), (9L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val er = TextAnalysis.bpeEncode(edge, "doc_id", "text", merges, byteLevel = true)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(er === Map(8L -> 0, 9L -> 0))
  }

  test("decodeIds: round trip through tokenizeToIds — OOV marked, order kept, lengths survive") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "delta alpha"), // delta is out of vocab
      (3L, "")).toDF("doc_id", "text")
    val vocab = Seq(("alpha", 0), ("beta", 1), ("gamma", 2)).toDF("token", "token_id")
    val encoded = TextAnalysis.tokenizeToIds(docs, "doc_id", "text", vocab)
    val out = TextAnalysis.decodeIds(encoded, "id", "ids", vocab)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === (("alpha beta gamma alpha", 4L, 0L)))
    assert(out(2L) === (("<unk> alpha", 2L, 1L))) // oov survives as a position
    assert(out(3L) === (("", 0L, 0L)))
  }

  test("searchBm25: scores match a plain-Scala fixed-point replica exactly") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spark query engine runs the query plan"),
      (2L, "query plan"),
      (3L, "spark spark spark streaming"),
      (4L, "unrelated text about nothing"),
      (5L, "")) // token-empty: counts in N, matches nothing
    val queries = Seq(("q1", "spark query"), ("q2", "query query plan"))
    val got = TextAnalysis.searchBm25(
        corpus.toDF("doc_id", "text"), "doc_id", "text",
        queries.toDF("qid", "qtext"), k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> ((r.getInt(2), r.getLong(3)))).toMap
    // replica in plain Scala, BigInt for the decimal(38) lane
    val toks = corpus.map { case (id, t) =>
      id -> t.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty).toSeq }.toMap
    val n = corpus.size.toLong
    val l = toks.values.map(_.size.toLong).sum
    val dfm = toks.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = (for {
      (qid, qtext) <- queries
      qtf = qtext.split("\\s+").filter(_.nonEmpty).groupBy(identity).view.mapValues(_.size.toLong)
      (id, ts) <- toks if ts.exists(qtf.keySet)
    } yield {
      val dl = ts.size.toLong
      val score = qtf.toSeq.collect { case (term, qn) if ts.contains(term) =>
        val tf = ts.count(_ == term).toLong
        val df = dfm(term)
        val idf = (BigInt(2 * (n - df) + 1) * 1048576) / (2 * df + 1)
        val tfc = (BigInt(22) * l * tf * 1048576) /
          (BigInt(10) * l * tf + BigInt(3) * l + BigInt(9) * dl * n)
        qn * ((idf * tfc) / 1048576).toLong
      }.sum
      (qid, id) -> score
    }).toMap
    // ranks: per qid by (score desc, doc_id)
    val wantRanked = want.groupBy(_._1._1).flatMap { case (_, m) =>
      m.toSeq.sortBy { case ((_, id), s) => (-s, id) }.zipWithIndex
        .map { case ((key, s), i) => key -> ((i + 1, s)) }
    }
    assert(got === wantRanked)
    // sanity on the semantics the numbers encode: for q1, doc 1 (both terms,
    // query twice) beats doc 3 (common term only) and doc 2; doc 4/5 absent
    assert(got(("q1", 1L))._1 === 1)
    assert(!got.contains(("q1", 4L)) && !got.contains(("q1", 5L)))
  }

  test("searchBm25: k cuts per query with deterministic ties; empty query matches nothing") {
    import spark.implicits._
    val corpus = (1L to 6L).map(i => (i, "same words here")).toDF("doc_id", "text")
    val q = Seq(("q", "words"), ("empty", "   ")).toDF("qid", "qtext")
    val out = TextAnalysis.searchBm25(corpus, "doc_id", "text", q, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    // all six docs tie exactly -> the three smallest doc_ids win, in order
    assert(out.toSet === Set(("q", 1L, 1), ("q", 2L, 2), ("q", 3L, 3)))
  }

  test("trainBpeMerges: composes with tokenizeToIds (merged symbols are a usable vocab)") {
    import spark.implicits._
    val docs = Seq((1L, "banana bandana banana")).toDF("doc_id", "text")
    val merges = TextAnalysis.trainBpeMerges(docs, "text", 4).collect()
    assert(merges.nonEmpty)
    // every merged symbol is the concatenation of its parts — the invariant
    // a tokenizer consuming (rank, merged) relies on
    merges.foreach(m => assert(m.getString(3) === m.getString(1) + m.getString(2)))
  }

  // ------------------------------------------------- trained language ID

  private def langidCorpus = {
    import spark.implicits._
    // two synthetic "languages" with disjoint char distributions: the model
    // must recover them on held-out docs — behavior, not just arithmetic
    val aa = (1L to 8L).map(i => (i, "aa", "abba bab abab babba abb" * 3))
    val zz = (9L to 16L).map(i => (i, "zz", "zyz yzzy zzyz yzy zyy" * 3))
    (aa ++ zz).toDF("doc_id", "lang", "text")
  }

  test("languageIdModel: held-out docs classify by char distribution; integer scores") {
    import spark.implicits._
    val train = langidCorpus.filter($"doc_id" % 4 =!= 0) // hold out every 4th
    val out = TextAnalysis.languageIdModel(
      train, "lang", "text", langidCorpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (1L to 8L).foreach(i => assert(out(i) === "aa", s"doc $i"))
    (9L to 16L).foreach(i => assert(out(i) === "zz", s"doc $i"))
  }

  test("languageIdModel: no-bigram docs get 'und' with zero counts, never a language") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "   "), (3L, null: String), (4L, "123 !?"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.languageIdModel(
      langidCorpus, "lang", "text", docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.length === 4)
    out.foreach { case (id, lang, nb, ss) =>
      assert(lang === "und" && nb === 0L && ss === 0L, s"doc $id: ($lang, $nb, $ss)")
    }
  }

  test("languageIdModel: score ties break to the lexicographically first language") {
    import spark.implicits._
    // both "languages" train on IDENTICAL text → every doc ties exactly
    val train = Seq((1L, "bb", "abc abc"), (2L, "aa", "abc abc"))
      .toDF("doc_id", "lang", "text")
    val docs = Seq((10L, "abc")).toDF("doc_id", "text")
    val r = TextAnalysis.languageIdModel(train, "lang", "text", docs, "doc_id", "text")
      .collect().head
    assert(r.getString(1) === "aa")
  }

  test("languageIdModel: minCount prunes pairs but never shifts smoothing denominators") {
    import spark.implicits._
    val docs = Seq((10L, "abba")).toDF("doc_id", "text")
    // minCount past every pair count → all pairs score as unseen: q =
    // (0+1)*2^20 div (c_prefix + V) with c_prefix/V from the UNPRUNED table
    val out = TextAnalysis.languageIdModel(
      langidCorpus, "lang", "text", docs, "doc_id", "text", minCount = 1000000L)
      .collect().head
    assert(out.getLong(2) === 3L) // ab, bb, ba
    assert(out.getLong(3) > 0L, "unseen pairs still carry smoothed mass")
    // prefix masses survive pruning: denominators include full train counts,
    // so the score must be STRICTLY below the unpruned run's
    val unpruned = TextAnalysis.languageIdModel(
      langidCorpus, "lang", "text", docs, "doc_id", "text").collect().head
    assert(out.getLong(3) < unpruned.getLong(3))
  }

  test("languageIdModel: partitioning-independent (1 vs 16 partitions, identical rows)") {
    val a = TextAnalysis.languageIdModel(
      langidCorpus.repartition(1), "lang", "text",
      langidCorpus.repartition(1), "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val b = TextAnalysis.languageIdModel(
      langidCorpus.repartition(16), "lang", "text",
      langidCorpus.repartition(16), "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("vocabOverlap: hand jaccard/containments; dense grid zero-fills disjoint pairs; containment asymmetry; case folds and dupes collapse; invariant") {
    import spark.implicits._
    def run(rows: Seq[(String, String)]) =
      TextAnalysis.vocabOverlap(rows.toDF("src", "text"), "src", "text")
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6), r.getLong(7), r.getLong(8)))).toMap
    // a = {x,y,z} (two docs), b = {y,z,w}: common 2, union 4 -> 500000;
    // both containments floor(2e6/3); c = {q} disjoint from both: dense
    // zero rows, jaccard 0
    val out = run(Seq(("a", "x y"), ("a", "y z"), ("b", "y z w"),
      ("c", "q")))
    assert(out(("a", "b")) ===
      ((3L, 3L, 2L, 4L, 500000L, 666666L, 666666L)))
    assert(out(("a", "c")) === ((3L, 1L, 0L, 4L, 0L, 0L, 0L)))
    assert(out(("b", "c")) === ((3L, 1L, 0L, 4L, 0L, 0L, 0L)))
    assert(out.size === 3)
    // containment asymmetry: d's vocab contains a's whole vocabulary
    val sub = run(Seq(("a", "x y"), ("d", "x y z w")))
    assert(sub(("a", "d")) ===
      ((2L, 4L, 2L, 4L, 500000L, 1000000L, 500000L)))
    // case folding and repeated tokens collapse into the vocabulary
    assert(run(Seq(("a", "X x X"), ("b", "x")))(("a", "b")) ===
      ((1L, 1L, 1L, 1L, 1000000L, 1000000L, 1000000L)))
    // a group whose texts all tokenize to ZERO tokens still lands on the
    // dense grid with size 0 (every pair metric reads 0, no div-by-zero),
    // rather than silently vanishing from the matrix
    val empty = run(Seq(("a", "x y"), ("e", "   "), ("e", "")))
    assert(empty(("a", "e")) === ((2L, 0L, 0L, 2L, 0L, 0L, 0L)))
    assert(run(Seq(("e1", ""), ("e2", " ")))(("e1", "e2")) ===
      ((0L, 0L, 0L, 0L, 0L, 0L, 0L)))
    // partitioning-invariant
    val rnd = (1 to 200).map(i =>
      (s"s${i % 4}", s"w${(i * 7) % 23} w${(i * 13) % 29} w${i % 11}"))
    val x = run(rnd)
    val y = TextAnalysis.vocabOverlap(
      rnd.toDF("src", "text").repartition(13), "src", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getLong(8)))).toMap
    assert(y === x)
  }

  test("vocabNovelty: hand Heaps curve — new types, cumulative vocab, novelty/ttr ppm; repeats and case fold; empty buckets absent; invariant") {
    import spark.implicits._
    def run(rows: Seq[(Long, String)]) =
      TextAnalysis.vocabNovelty(rows.toDF("id", "text"), "id", "text", 10L)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5), r.getLong(6)))).toMap
    // bucket 0: "a b a" + "C" -> 4 occurrences, types {a,b,c}=3, all new,
    //   cum 3, novelty 1e6, ttr floor(3e6/4)=750000
    // bucket 1: "a d d" -> 3 occ, types {a,d}=2, new {d}=1, cum 4,
    //   novelty 500000, ttr 666666
    // bucket 2: only whitespace text -> NO row (no token mass)
    // bucket 3: "a" -> 1 occ, 1 type, 0 new, cum 4, novelty 0, ttr 1e6
    val out = run(Seq(
      (1L, "a b a"), (2L, "C"),
      (11L, "a d d"),
      (21L, "   "),
      (31L, "a")))
    assert(out === Map(
      0L -> ((4L, 3L, 3L, 3L, 1000000L, 750000L)),
      1L -> ((3L, 2L, 1L, 4L, 500000L, 666666L)),
      3L -> ((1L, 1L, 0L, 4L, 0L, 1000000L))))
    // partitioning-invariant on a larger fixture
    val rnd = (1 to 400).map(i =>
      (i.toLong, s"w${(i * 7) % 53} w${(i * 13) % 31} w${i % 11}"))
    val x = run(rnd)
    val y = TextAnalysis.vocabNovelty(
      rnd.toDF("id", "text").repartition(13), "id", "text", 10L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(y === x)
    // the curve's cumulative equals the distinct vocabulary of everything
    // seen so far (probed on the last bucket)
    val vocabAll = rnd.flatMap(_._2.split(" ")).distinct.size.toLong
    assert(x(x.keySet.max)._4 === vocabAll)
  }
}
