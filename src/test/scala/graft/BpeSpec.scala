package graft

import org.apache.spark.sql.functions._
import graft.operators.Bpe

/** BPE trainer/segmenter vs a straightforward in-memory reference
  * implementation of the classical word-frequency formulation (overlapping
  * pair counts, non-overlapping left-to-right merge application,
  * (count desc, left asc, right asc) tie-break). */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private val Eow = "</w>"

  // ---- reference implementation (driver-side, small corpora only) ----

  private def refInit(word: String): Vector[String] = {
    val cs = word.map(_.toString).toVector
    cs.init :+ (cs.last + Eow)
  }

  private def refMergeOnce(syms: Vector[String], l: String, r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private def refTrain(wordFreq: Map[String, Long], numMerges: Int,
                       minCount: Long = 2L): Seq[(String, String)] = {
    var table: Seq[(Vector[String], Long)] =
      wordFreq.toSeq.map { case (w, f) => refInit(w) -> f }
    val merges = Seq.newBuilder[(String, String)]
    var done = false
    var round = 0
    while (!done && round < numMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      table.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _ =>
        }
      }
      val eligible = counts.filter(_._2 >= minCount)
      if (eligible.isEmpty) done = true
      else {
        val best = eligible.toSeq.minBy { case ((l, r), c) => (-c, l, r) }._1
        merges += best
        table = table.map { case (syms, f) => refMergeOnce(syms, best._1, best._2) -> f }
        round += 1
      }
    }
    merges.result()
  }

  private def wordFreq(docs: Seq[String]): Map[String, Long] =
    docs.flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

  // ---- specs ----

  private val corpus = Seq(
    (1L, "low low low lower lower"),
    (2L, "newest newest newest newest widest widest"),
    (3L, "low newest"))

  test("train matches the in-memory reference trainer, merge for merge") {
    val docs = corpus.toDF("doc_id", "text")
    val expected = refTrain(wordFreq(corpus.map(_._2)), 12)
    val got = Bpe.train(docs, "text", 12)
    assert(got == expected, s"\nspark: $got\nref:   $expected")
    assert(got.nonEmpty)
  }

  test("driver and distributed carriers agree merge for merge") {
    val docs = corpus.toDF("doc_id", "text")
    // vocab far under the bound -> driver kernel; bound 0 -> distributed
    val fast = Bpe.train(docs, "text", 12, memoize = false)
    // dispatch assertion (VERDICT r16 #7): the default bound on a small
    // vocab must take the driver kernel...
    assert(Bpe.lastTrainCarrier == "driver", Bpe.lastTrainCarrier)
    val dist = Bpe.train(docs, "text", 12, memoize = false, driverVocabBound = 0L)
    // ...and bound 0 must actually take the DISTRIBUTED loop — otherwise
    // this test would compare the driver kernel to itself and the scale
    // path would be dead code that still reads as covered
    assert(Bpe.lastTrainCarrier == "distributed", Bpe.lastTrainCarrier)
    // the distributed carrier records one wall-time sample per merge round
    // (>=: the final exhausted-probe round also records a sample)
    assert(Bpe.lastRoundSecs.size() >= dist.size, s"${Bpe.lastRoundSecs.size()}")
    assert(fast == dist, s"\ndriver: $fast\ndist:   $dist")
    assert(fast == refTrain(wordFreq(corpus.map(_._2)), 12))
  }

  test("carriers agree on a count tie where UTF-8 and UTF-16 orders differ") {
    // U+FFFD (UTF-8 EF BF BD; UTF-16 code unit FFFD) vs U+1D11E
    // (UTF-8 F0 9D 84 9E; UTF-16 lead surrogate D834): Java String order
    // puts 𝄞 first, Spark's UTF8String byte order puts U+FFFD first. The
    // two words tie at freq 3, so the first merge IS the tie-break.
    val repl = "\uFFFD"
    val clef = "\uD834\uDD1E"
    val tie = Seq((1L, s"${repl}a ${repl}a ${repl}a ${clef}a ${clef}a ${clef}a"))
    val docs = tie.toDF("doc_id", "text")
    val fast = Bpe.train(docs, "text", 2, memoize = false)
    val dist = Bpe.train(docs, "text", 2, memoize = false, driverVocabBound = 0L)
    assert(fast == dist, s"\ndriver: $fast\ndist:   $dist")
    assert(fast.head._1 == repl, s"UTF-8 order must win the tie: $fast")
  }

  test("driver kernel handles a pair count that is destroyed then recreated") {
    // after merging (a,b)->"ab", a later (x,a)... shape can re-create an
    // adjacency whose left symbol string equals a previously-merged pair's
    // product; the incremental counts must resurrect cleanly. Parity with
    // the full-recount distributed carrier is the oracle.
    val docs = Seq(
      (1L, "abcd abcd abcd abcd"),
      (2L, "ab cd ab cd ab"),
      (3L, "abc abc bcd bcd")).toDF("doc_id", "text")
    val fast = Bpe.train(docs, "text", 16, memoize = false, minPairCount = 1L)
    val dist = Bpe.train(docs, "text", 16, memoize = false, minPairCount = 1L,
      driverVocabBound = 0L)
    assert(fast == dist, s"\ndriver: $fast\ndist:   $dist")
  }

  test("carriers agree merge for merge on a randomized skewed corpus (32 merges)") {
    // seeded random corpus with a Zipf-ish frequency profile and a small
    // alphabet (forces many count ties, the tie-break's stress case)
    val rnd = new scala.util.Random(271828L)
    val alphabet = "abcdef"
    def word(): String =
      (0 until (2 + rnd.nextInt(6))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val vocabWords = Vector.fill(60)(word())
    val docs = (1L to 40L).map { id =>
      val n = 5 + rnd.nextInt(15)
      // skew: low-index words dominate
      (id, (0 until n).map(_ => vocabWords(math.min(rnd.nextInt(12), rnd.nextInt(60)))).mkString(" "))
    }.toDF("doc_id", "text")
    val fast = Bpe.train(docs, "text", 32, memoize = false)
    val dist = Bpe.train(docs, "text", 32, memoize = false, driverVocabBound = 0L)
    assert(fast == dist, s"\ndriver: $fast\ndist:   $dist")
    assert(fast.size == 32, s"expected the full merge budget, got ${fast.size}")
  }

  test("train stops early when no pair reaches minPairCount") {
    // every word unique, every pair frequency 1 -> zero merges at min 2
    val docs = Seq((1L, "abc defg")).toDF("doc_id", "text")
    assert(Bpe.train(docs, "text", 8).isEmpty)
    // ... and hapax merging is possible when explicitly allowed
    assert(Bpe.train(docs, "text", 2, minPairCount = 1L).nonEmpty)
  }

  test("segment applies merges lowest-rank-first and reproduces training states") {
    val docs = corpus.toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", 12)
    // reference: fold the merges in training order over each word
    def refSegment(w: String): Vector[String] =
      merges.foldLeft(refInit(w)) { case (s, (l, r)) => refMergeOnce(s, l, r) }
    val out = Bpe.segment(docs, "doc_id", "text", merges)
      .as[(Long, Seq[String])].collect().toMap
    corpus.foreach { case (id, text) =>
      val expected = text.trim.split("\\s+").toSeq.flatMap(refSegment)
      assert(out(id) == expected, s"doc $id:\n got ${out(id)}\n exp $expected")
    }
    // pieces reconstruct the original text exactly
    corpus.foreach { case (id, text) =>
      val rebuilt = out(id).mkString.replace(Eow, " ").trim
      assert(rebuilt == text.trim.split("\\s+").mkString(" "))
    }
  }

  test("segment handles unseen words, single chars, and astral code points") {
    val merges = Seq(("l", "o"), ("lo", "w" + Eow))
    val docs = Seq((1L, "low a zz 𝄞x")).toDF("doc_id", "text")
    val out = Bpe.segment(docs, "doc_id", "text", merges)
      .as[(Long, Seq[String])].collect().head._2
    assert(out == Seq(
      "low" + Eow,                      // fully merged
      "a" + Eow,                        // single char = eow symbol
      "z", "z" + Eow,                   // unseen word stays at char grain
      "𝄞", "x" + Eow))       // surrogate pair kept whole
  }

  test("mergeOnce is non-overlapping left-to-right") {
    val df = Seq(Tuple1(Seq("a", "a", "a"))).toDF("symbols")
    val out = df.select(graft.functions.NativeExprs
        .bpeMergeOnce(col("symbols"), "a", "a").as("m"))
      .as[Seq[String]].collect().head
    assert(out == Seq("aa", "a"))
  }

  test("tokens: explicit class keeps Java \\s semantics (U+000B splits, NBSP does not)") {
    // Bpe.tokens spells out [ \t\n\x0B\f\r]+ so the DuckDB oracle (RE2,
    // whose \s lacks U+000B) can run the SAME class. This pins the Java
    // side: vertical tab still separates words (as \s did), while
    // non-matching whitespace-adjacent chars like NBSP (U+00A0) stay
    // inside tokens — i.e. the rewrite changed spelling, not behavior.
    val docs = Seq((1L, "ab c d \te\rf\ng")).toDF("doc_id", "text")
    val toks = docs.select(Bpe.tokens(col("text")).as("t"))
      .as[Seq[String]].collect().head
    assert(toks == Seq("a", "b", "c d", "e", "f", "g"))
  }

  test("segment word cache is bounded (clear-on-full) and hit/miss identical") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val expr = graft.functions.BpeSegmentExpr(
      BoundReference(0, ArrayType(StringType), nullable = true),
      Seq(("l", "o"), ("lo", "w" + Eow)), Eow)
    def segment(word: String): Seq[String] = {
      val arr = ArrayData.toArrayData(Array[AnyRef](UTF8String.fromString(word)))
      expr.eval(InternalRow(arr)).asInstanceOf[ArrayData]
        .toArray[UTF8String](StringType).toSeq.map(_.toString)
    }
    val first = segment("low")
    assert(first == Seq("low" + Eow))
    // push PAST the bound with distinct words: the clear-on-full eviction
    // must keep size <= cacheMax at every point (checked at the end, after
    // at least one wraparound), never grow unbounded
    val bound = expr.cacheStats._2
    (0 to bound + 64).foreach(i => segment("w" + i))
    val (size, max) = expr.cacheStats
    assert(size <= max, s"cache grew past its bound: $size > $max")
    assert(size > 0 && size < bound, s"expected a post-clear refill, got $size")
    // a re-segmentation AFTER the clear (cache miss) must equal the
    // original cached answer — the cache stores only the deterministic
    // segmentation, so eviction can never change results
    assert(segment("low") == first)
  }

  test("fertility arithmetic: pieces per word under a pinned merge list") {
    import org.apache.spark.sql.functions._
    val merges = Seq(("a", "b</w>"))
    // "ab" -> [ab</w>] (1 piece), "cd" -> [c, d</w>] (2), "a" -> [a</w>],
    // "b" -> [b</w>]; doc2's extra whitespace must not add words
    val docs = Seq((1L, "ab ab cd", "en"), (2L, " a  b ", "zh"))
      .toDF("doc_id", "text", "lang")
    val toks = graft.operators.TextAnalysis.tokens(col("text"))
    val out = docs.select(col("lang"),
        coalesce(size(graft.functions.NativeExprs.bpeSegment(
          toks, merges, "</w>")), lit(0)).cast("long").as("np"),
        size(filter(toks, w => w =!= "")).cast("long").as("nw"))
      .groupBy(col("lang"))
      .agg(sum(col("nw")).as("n_words"), sum(col("np")).as("n_pieces"))
      .withColumn("fertility", col("n_pieces").cast("double") / col("n_words"))
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out("en") == (("en", 3L, 4L, 4.0 / 3)))
    assert(out("zh") == (("zh", 2L, 2L, 1.0)))
  }

  test("unigramSegment: exact local Viterbi replay, fallback-only words, determinism") {
    import org.apache.spark.sql.functions.col
    val pieces = Seq("the" -> 4, "fil" -> 4, "ter" -> 4, "ng" -> 3, "a" -> 2)
    val fallback = 6
    val base = Bpe.PieceScoreBase
    // local reference Viterbi over the SAME combined cost*base+pieces metric
    def ref(w: String): (Long, Long) = {
      val best = Array.fill(w.length + 1)(Long.MaxValue); best(0) = 0L
      for (i <- 1 to w.length; j <- math.max(0, i - 4) until i if best(j) != Long.MaxValue) {
        val p = w.substring(j, i)
        val c = pieces.toMap.get(p)
          .orElse(if (p.length == 1) Some(fallback) else None)
        c.foreach(cc => best(i) = math.min(best(i), best(j) + cc * base + 1L))
      }
      (best(w.length) % base, (best(w.length) - best(w.length) % base) / base)
    }
    // one doc per word + one multi-word doc with repeated tokens
    val docs = Seq(
      (1L, "the"),          // whole-word piece: 1 piece, cost 4
      (2L, "filter"),       // fil+ter beats chars: 2 pieces, cost 8
      (3L, "zz"),           // fallback-only: 2 pieces, cost 12
      (4L, "angng"),        // a+ng+ng: combination of pieces
      (5L, "the filter the")// multiplicity: sums over token occurrences
    ).toDF("doc_id", "text")
    val out = Bpe.unigramSegment(docs, "doc_id", "text", pieces, fallback, 4)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    def exp(id: Long, ws: Seq[String]): (Long, Long, Long, Long) = {
      val rs = ws.map(ref)
      (id, ws.size.toLong, rs.map(_._1).sum, rs.map(_._2).sum)
    }
    assert(out(1L) == exp(1L, Seq("the")) && out(1L)._3 == 1L && out(1L)._4 == 4L)
    assert(out(2L) == exp(2L, Seq("filter")) && out(2L)._3 == 2L && out(2L)._4 == 8L)
    assert(out(3L) == exp(3L, Seq("zz")) && out(3L)._3 == 2L && out(3L)._4 == 12L)
    assert(out(4L) == exp(4L, Seq("angng")))
    assert(out(5L) == exp(5L, Seq("the", "filter", "the")))
    // determinism: a second run is row-identical
    val again = Bpe.unigramSegment(docs, "doc_id", "text", pieces, fallback, 4)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(again == out)
    // the pinned production inventory segments the corpus vocabulary:
    // every word gets >= 1 piece and cost <= len * fallback
    val corpus = Seq((1L, "customer window stream vector unknownzzz"))
      .toDF("doc_id", "text")
    val c = Bpe.unigramSegment(corpus, "doc_id", "text", Bpe.pinnedPieces)
      .as[(Long, Long, Long, Long)].collect().head
    assert(c._2 == 5L && c._3 >= 5L && c._4 > 0L)
    // MaxWordLen guard (ADVICE r15): a token at/above the packing radix
    // would wrap n_pieces into the cost field — it is FILTERED, not scored
    // wrongly, and both engines apply the identical length predicate. A
    // word just under any realistic length still scores (n_pieces == len
    // under fallback-only segmentation — no wrap).
    val monster = "z" * 4096 // fallback-only: n_pieces = 4096 > old 1024 radix
    val guarded = Seq((9L, s"the $monster")).toDF("doc_id", "text")
    val g = Bpe.unigramSegment(guarded, "doc_id", "text", Bpe.pinnedPieces)
      .as[(Long, Long, Long, Long)].collect().head
    // both words survive (4096 < MaxWordLen); the monster's 4096 pieces
    // would have aliased to 0 pieces + corrupted cost under a 2^10 radix
    assert(g._2 == 2L && g._3 == 4097L,
      s"expected 2 words / 4097 pieces (no radix wrap), got $g")
  }

  test("wordpieceSegment: exact local greedy replay, longest-match trap, UNK semantics") {
    import org.apache.spark.sql.functions.col
    // local reference of the SAME greedy automaton
    def ref(w: String, vocab: Set[String], mpl: Int): (Long, Boolean) = {
      var pos = 0; var np = 0L
      while (pos < w.length) {
        val best = (1 to mpl).filter { j =>
          pos + j <= w.length && {
            val cand = w.substring(pos, pos + j)
            vocab.contains(if (pos == 0) cand else "##" + cand)
          }
        }.lastOption
        best match {
          case Some(j) => pos += j; np += 1
          case None => return (1L, true)
        }
      }
      (np, false)
    }
    val vocab = Seq("ab", "abc", "##cd", "##d", "the", "##q", "que", "##ue", "##ry", "a")
    val docs = Seq(
      (1L, "theque"),   // the + ##q + ##ue: greedy takes longest at each pos
      (2L, "abcd"),     // trap resolved: abc + ##d (both exist here)
      (3L, "zz"),       // no initial piece: [UNK]
      (4L, "a abcd a"), // multiplicity
      (5L, "abq")       // ab matches, then ##q... q: "##q" in vocab -> ab+##q
    ).toDF("doc_id", "text")
    val out = Bpe.wordpieceSegment(docs, "doc_id", "text", vocab)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    def exp(id: Long, ws: Seq[String]): (Long, Long, Long, Long) = {
      val rs = ws.map(ref(_, vocab.toSet, 4))
      (id, ws.size.toLong, rs.map(_._1).sum, rs.count(_._2).toLong)
    }
    for (id <- 1L to 5L) {
      val words = docs.where(col("doc_id") === id).collect().head.getString(1)
        .split(" ").toSeq
      assert(out(id) == exp(id, words), s"doc $id diverged from the local greedy")
    }
    assert(out(1L)._3 == 3L && out(1L)._4 == 0L)
    assert(out(3L)._3 == 1L && out(3L)._4 == 1L) // [UNK] counts one piece
    // THE GREEDY TRAP (why WordPiece != Viterbi): without "##d", greedy
    // takes the longest first piece "abc" and strands "d" -> [UNK], even
    // though ab + ##cd covers the word — the unigram tier (costed pieces)
    // finds that split; this tier faithfully reproduces BERT's behavior
    val trapVocab = Seq("ab", "abc", "##cd")
    val trap = Bpe.wordpieceSegment(Seq((1L, "abcd")).toDF("doc_id", "text"),
      "doc_id", "text", trapVocab)
      .as[(Long, Long, Long, Long)].collect().head
    assert(trap == ((1L, 1L, 1L, 1L)), s"greedy must strand abcd -> UNK, got $trap")
    val viterbi = Bpe.unigramSegment(Seq((1L, "abcd")).toDF("doc_id", "text"),
      "doc_id", "text", Seq("ab" -> 3, "abc" -> 3, "cd" -> 3), fallbackCost = 400)
      .as[(Long, Long, Long, Long)].collect().head
    assert(viterbi._3 == 2L, s"the costed tier finds ab+cd where greedy fails: $viterbi")
    // pinned production vocabulary covers the corpus's multi-piece words
    val prod = Bpe.wordpieceSegment(
      Seq((1L, "customer window stream the zzunknownzz")).toDF("doc_id", "text"),
      "doc_id", "text", Bpe.pinnedWordPieces)
      .as[(Long, Long, Long, Long)].collect().head
    assert(prod == ((1L, 5L, 1L + 2L * 3L + 1L, 1L)),
      s"cust+##omer / win+##dow / str+##eam / the / UNK expected, got $prod")
    // determinism: a second run is row-identical
    val again = Bpe.wordpieceSegment(docs, "doc_id", "text", vocab)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(again == out)
  }
}
