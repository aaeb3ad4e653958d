package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Ckpt.CkptOps

import graft.functions.NativeExprs

/** Byte-pair-encoding tokenizer induction and application (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword Units") —
  * the subword-vocabulary step a training-data pipeline runs between
  * curation and sequence packing. No analog exists in the reference tree
  * (its tokenization stops at type coercion); this is a brief-mandated
  * LLM-training-data capability.
  *
  * Scale design: training follows the classical word-frequency formulation —
  * ONE corpus pass builds the (word, freq) table, and every merge round
  * operates on that VOCABULARY-SIZED table, never the corpus. Two carriers
  * run the merge loop, selected by the vocabulary's measured size:
  *
  *  - **Driver kernel** (vocab ≤ [[DriverVocabBound]] distinct words, the
  *    overwhelmingly common case — production trainers like
  *    sentencepiece/HF-tokenizers are single-process over exactly this
  *    table): collect the (symbols, freq) table ONCE, then run the merge
  *    loop in memory with incremental pair-count maintenance — per merge,
  *    only the words containing the winning pair are rewritten and only
  *    their pair counts adjusted (a lazy-validated priority queue picks
  *    winners; no full recount per round). 32k merges cost seconds, not
  *    32k Spark jobs.
  *  - **Distributed rounds** (vocab past the bound): per round, adjacent
  *    symbol pairs explode map-side weighted by word frequency, one keyed
  *    aggregation counts them, and a distributed TakeOrdered(1) picks the
  *    winner — the only driver state is that single (left, right) pair.
  *    Symbol rewriting is a map-side native expression; `localCheckpoint`
  *    every few rounds bounds lineage exactly as the iterative
  *    connected-components propagation does.
  *
  * Both carriers implement the identical semantics — same (count desc,
  * left asc, right asc) tie-break with STRING ORDER AS UTF-8 BYTES (what
  * Spark's UTF8String comparison does; Java's String.compareTo diverges on
  * supplementary characters), same non-overlapping left-to-right merge —
  * and are spec-pinned merge-for-merge against each other (BpeSpec),
  * including a count-tie corpus where UTF-8 and UTF-16 orderings disagree.
  * Segmentation is one compiled map-side pass per document (no shuffle at
  * all) with the trained merge list carried as a plan literal.
  */
object Bpe {

  /** Whitespace tokens. The explicit class IS Java's `\s` ([ \t\n\x0B\f\r]
    * — byte-identical behavior), spelled out because the DuckDB oracle
    * replays the split with RE2, whose `\s` does NOT include U+000B: both
    * engines now run the same literal class, so tokenization parity holds
    * by construction instead of by the testdata happening to lack \x0B. */
  def tokens(text: Column): Column = split(trim(text), "[ \\t\\n\\u000B\\f\\r]+")

  /** Per-CODE-POINT symbol array with the end-of-word marker folded into
    * the final code point (the Sennrich initialization). Implemented as
    * [[NativeExprs.bpeSegment]] with an EMPTY merge list — segmentation
    * under zero merges IS the init — so training init and segmenter init
    * are one code path by construction. (The earlier `split(word,
    * "(?!^)")` formulation is NOT equivalent: Spark's split breaks
    * surrogate pairs and re-encodes each lone half as U+003F '?', so every
    * astral code point trained as "? ?" while the segmenter kept it whole —
    * verified empirically; spec-pinned in BpeSpec's astral tie test.) */
  private def charSymbols(word: Column, endOfWord: String): Column =
    NativeExprs.bpeSegment(array(word), Nil, endOfWord)

  /** Vocabulary-size ceiling for the driver-side merge kernel: at or
    * under this many DISTINCT words the (symbols, freq) table collects to
    * the driver (the same bounded-collect discipline as the ANN centroid
    * and pivot-key collects); past it, training stays distributed. The
    * bound covers the kernel's WHOLE working set, not just the collect:
    * at 1M words × ~10 symbols the symbol arrays are ~0.5 GB, and the
    * pair-count map plus the per-pair posting lists (both ∝ total
    * adjacent-symbol positions, ~9M entries worst-case) add ~1.5 GB of
    * map/entry overhead — budget ~2-3 GB of driver heap at the bound
    * (tools/run.sh runs -Xmx8g; a production driver has more). The
    * posting lists are flat int buffers precisely so the index stays
    * LINEAR in corpus symbols — a bitset-per-pair variant would scale
    * with pairs × vocabulary width instead and OOM near the bound. Real
    * corpora sit far under it: distinct-word counts grow ~O(corpus^0.5)
    * (Heaps' law), and production BPE trainers assume exactly this table
    * fits one machine. */
  val DriverVocabBound: Long = 1000000L

  /** Probe instrumentation (BpeSpec only): which carrier
    * the last non-memoized training run dispatched to ("driver" |
    * "distributed"), and — for the distributed carrier — the wall seconds
    * of each merge round (one vocabulary-table job per round). Exists so
    * the carrier dispatch and the scale path's per-round samples are
    * ASSERTABLE; never read by library code. */
  @volatile private[graft] var lastTrainCarrier: String = ""
  private[graft] val lastRoundSecs =
    new java.util.concurrent.CopyOnWriteArrayList[java.lang.Double]()

  /** Train `numMerges` BPE merges on the corpus. Returns the ordered merge
    * list (rank order = training order). Rounds stop early when no
    * adjacent pair reaches `minPairCount` (merging hapax pairs only bloats
    * the vocabulary). Deterministic: same corpus, same merges, any
    * partitioning, either carrier (see the object doc for the
    * driver-vs-distributed selection at `driverVocabBound`).
    *
    * Memoized per (session, canonicalized corpus plan string AND its
    * semanticHash, numMerges, endOfWord, textCol, minPairCount) with the
    * same bounded-map discipline as the ANN width cache. BOTH plan
    * identities are load-bearing: the canonicalized STRING alone is not
    * enough — it omits parquet file locations and LocalRelation data
    * (verified empirically: two same-schema reads of different testdata
    * dirs print the identical canonical string), so on its own it would
    * silently serve another corpus's merge list; `semanticHash` DOES
    * distinguish locations/data (and is stable across re-reads of the
    * same dir), and pairing it with the string means a wrong hit needs a
    * simultaneous string match and 32-bit hash collision. A stale or
    * missed entry only re-trains — a collision is the dangerous case,
    * since merges are a correctness input (unlike the count cache's
    * collision-tolerant sizing hints). Pass `memoize = false` to force a
    * fresh training run — what a benchmark of the training loop itself
    * wants. */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            endOfWord: String = "</w>", minPairCount: Long = 2L,
            memoize: Boolean = true,
            driverVocabBound: Long = DriverVocabBound): Seq[(String, String)] = {
    // at 0 the two carriers would diverge: the driver kernel's lazy queue
    // could revalidate a REMOVED pair's stale entry as cur == c == 0 and
    // emit phantom zero-count merges, while the distributed rounds stop on
    // pair-table exhaustion — and merging pairs that occur zero times is
    // meaningless anyway
    require(minPairCount >= 1L, s"minPairCount must be >= 1, got $minPairCount")
    if (!memoize)
      return trainUncached(docs, textCol, numMerges, endOfWord, minPairCount, driverVocabBound)
    if (mergeCache.size() >= mergeCacheMax) mergeCache.clear()
    val analyzed = docs.queryExecution.analyzed
    val key = (docs.sparkSession.hashCode,
      s"${analyzed.canonicalized}|${analyzed.semanticHash()}|$textCol|$numMerges|$endOfWord|$minPairCount|$driverVocabBound")
    mergeCache.computeIfAbsent(key,
      _ => trainUncached(docs, textCol, numMerges, endOfWord, minPairCount, driverVocabBound))
  }

  private val mergeCacheMax = 64
  private val mergeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), Seq[(String, String)]]()

  private def trainUncached(docs: DataFrame, textCol: String, numMerges: Int,
                            endOfWord: String, minPairCount: Long,
                            driverVocabBound: Long): Seq[(String, String)] = {
    val words = docs
      .select(explode(tokens(col(textCol))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(charSymbols(col("word"), endOfWord).as("symbols"), col("freq"))
      .ckptLocal()
    // the checkpoint is already materialized, so this count is metadata-cheap
    if (words.count() <= driverVocabBound) {
      lastTrainCarrier = "driver"
      val vocab = words.collect().map(r => (r.getSeq[String](0).toArray, r.getLong(1)))
      trainDriver(vocab, numMerges, minPairCount)
    } else {
      lastTrainCarrier = "distributed"
      trainDistributed(words, numMerges, minPairCount)
    }
  }

  /** Distributed merge rounds for vocabularies past the driver bound: one
    * vocabulary-table job per merge (pair explode → keyed count →
    * TakeOrdered(1)), symbols rewritten map-side. */
  private def trainDistributed(words0: DataFrame, numMerges: Int,
                               minPairCount: Long): Seq[(String, String)] = {
    var words = words0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var exhausted = false
    lastRoundSecs.clear()
    while (!exhausted && round < numMerges) {
      val roundT0 = System.nanoTime()
      val n1 = greatest(size(col("symbols")) - 1, lit(0))
      val best = words
        .select(col("freq"),
          explode(zip_with(slice(col("symbols"), lit(1), n1),
            slice(col("symbols"), lit(2), n1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .select(col("freq"), col("p").getField("l").as("l"), col("p").getField("r").as("r"))
        .groupBy(col("l"), col("r")).agg(sum(col("freq")).as("cnt"))
        .where(col("cnt") >= minPairCount)
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r) = (best(0).getString(0), best(0).getString(1))
        merges += ((l, r))
        words = words.withColumn("symbols",
          NativeExprs.bpeMergeOnce(col("symbols"), l, r))
        round += 1
        if (round % 4 == 0) words = words.ckptLocal()
      }
      lastRoundSecs.add((System.nanoTime() - roundT0) / 1e9)
    }
    merges.toSeq
  }

  /** Non-overlapping left-to-right single-pair merge — the driver twin of
    * [[graft.functions.NativeExprs.bpeMergeOnce]]. */
  private[graft] def mergeOnceLocal(syms: Array[String], l: String, r: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += (l + r); i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Unsigned UTF-8 byte comparison — EXACTLY Spark's UTF8String binary
    * string order, which the distributed TakeOrdered(1) tie-break uses.
    * Java's String.compareTo (UTF-16 code units) disagrees for
    * supplementary characters vs U+E000..U+FFFF, so it must not be used
    * here (spec-pinned with such a tie in BpeSpec). */
  private[graft] def utf8Cmp(a: String, b: String): Int = {
    // ASCII fast path: while both sides are ASCII, char order IS UTF-8
    // byte order — zero allocations for the overwhelmingly common vocab
    // (this runs on every count-tie in the driver kernel's hot queue).
    // The first non-ASCII char on either side falls back to a real
    // byte-array compare.
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.charAt(i); val cb = b.charAt(i)
      if (ca >= 0x80 || cb >= 0x80) return utf8CmpBytes(a, b)
      if (ca != cb) return ca - cb
      i += 1
    }
    a.length - b.length
  }

  private def utf8CmpBytes(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Driver-side merge loop with incremental pair-count maintenance — the
    * production-trainer formulation (sentencepiece/HF-tokenizers shape)
    * over the collected vocabulary table. Per merge only the words
    * containing the winning pair are rewritten, and only the pairs whose
    * counts changed are re-queued; winners come from a lazy-validated
    * priority queue (entries carry the count they were enqueued with; a
    * popped entry whose count went stale is re-enqueued at the current
    * count instead of winning). Semantics are identical to one
    * distributed round per merge: same (count desc, l, r) tie-break under
    * UTF-8 byte order, same non-overlapping left-to-right rewrite. */
  private[graft] def trainDriver(vocab: Array[(Array[String], Long)], numMerges: Int,
                                 minPairCount: Long): Seq[(String, String)] = {
    import scala.collection.mutable
    val syms = vocab.map(_._1)
    val freq = vocab.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    // inverted index pair -> word ids; a lazily-maintained SUPERSET of the
    // words currently containing the pair (stale entries no-op at rewrite,
    // duplicates are deduped at lookup). Posting lists, NOT bitsets: a
    // BitSet sizes to its highest set bit, so one rare pair in a
    // high-index word would cost vocabSize/8 bytes and the index would
    // scale with pairs × vocabulary width; int buffers keep it linear in
    // total symbol occurrences (see [[DriverVocabBound]]'s heap budget).
    val occ = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Int]]
    // consecutive-dup guard is a full within-word dedup (appends for one
    // word are contiguous); re-adds of the same word in LATER merge rounds
    // can still duplicate, which the lookup's distinct absorbs
    def addOcc(p: (String, String), wi: Int): Unit = {
      val b = occ.getOrElseUpdate(p, mutable.ArrayBuffer.empty[Int])
      if (b.isEmpty || b(b.length - 1) != wi) b += wi
    }
    var w = 0
    while (w < syms.length) {
      val s = syms(w); val f = freq(w)
      var i = 0
      while (i + 1 < s.length) {
        val p = (s(i), s(i + 1))
        counts.update(p, counts.getOrElse(p, 0L) + f)
        addOcc(p, w)
        i += 1
      }
      w += 1
    }
    // max-heap on count, then MIN on (l, r) in UTF-8 byte order
    val ord: Ordering[(Long, String, String)] = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c
        else {
          val cl = utf8Cmp(b._2, a._2)
          if (cl != 0) cl else utf8Cmp(b._3, a._3)
        }
      }
    }
    val pq = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    counts.foreach { case ((l, r), c) => if (c >= minPairCount) pq.enqueue((c, l, r)) }
    val merges = Seq.newBuilder[(String, String)]
    var made = 0
    while (made < numMerges && pq.nonEmpty) {
      val (c, l, r) = pq.dequeue()
      val cur = counts.getOrElse((l, r), 0L)
      if (cur == c) {
        merges += ((l, r))
        made += 1
        val hits = occ.getOrElse((l, r), mutable.ArrayBuffer.empty[Int]).distinct
        val delta = mutable.HashMap.empty[(String, String), Long]
        hits.foreach { wi =>
          val before = syms(wi)
          val after = mergeOnceLocal(before, l, r)
          if (after.length != before.length) {
            val f = freq(wi)
            var i = 0
            while (i + 1 < before.length) {
              delta.update((before(i), before(i + 1)),
                delta.getOrElse((before(i), before(i + 1)), 0L) - f)
              i += 1
            }
            i = 0
            while (i + 1 < after.length) {
              val p = (after(i), after(i + 1))
              delta.update(p, delta.getOrElse(p, 0L) + f)
              addOcc(p, wi)
              i += 1
            }
            syms(wi) = after
          }
        }
        delta.foreach { case (p, d) =>
          if (d != 0L) {
            val nc = counts.getOrElse(p, 0L) + d
            if (nc <= 0L) counts.remove(p)
            else {
              counts.update(p, nc)
              if (nc >= minPairCount) pq.enqueue((nc, p._1, p._2))
            }
          }
        }
      } else if (cur >= minPairCount) pq.enqueue((cur, l, r))
      // stale entries under the threshold just drop
    }
    merges.result()
  }

  /** The trained merge table as a DataFrame (rank is 1-based training
    * order) — bounded at `numMerges` rows by construction. */
  def mergesDF(spark: SparkSession, merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i + 1, l, r) }
      .toDF("rank", "merge_left", "merge_right")
  }

  /** Shared Viterbi-DP constants — interpolated into BOTH the Spark plan
    * and the generated DuckDB oracle CTE so a default change cannot
    * silently desync the two sides. `PieceScoreBase` is the packing radix
    * of the combined `cost·base + n_pieces` DP score: 2^20 holds the piece
    * count of any word shorter than [[MaxWordLen]] chars without wrapping
    * into the cost field. */
  val PieceScoreBase: Long = 1L << 20
  val MaxWordLen: Long = PieceScoreBase // n_pieces ≤ word length < base
  val DefaultFallbackCost: Int = 6
  val DefaultMaxPieceLen: Int = 4

  /** Segment each document into subword pieces under a trained merge list —
    * one compiled map-side expression, zero shuffles. */
  def segment(docs: DataFrame, idCol: String, textCol: String,
              merges: Seq[(String, String)], endOfWord: String = "</w>"): DataFrame =
    docs.select(col(idCol),
      NativeExprs.bpeSegment(tokens(col(textCol)), merges, endOfWord).as("pieces"))

  /** Unigram-LM (SentencePiece-style) Viterbi segmentation — the THIRD
    * tokenizer tier beside whitespace counting and BPE merges (Kudo 2018,
    * "Subword Regularization"): each word segments into the piece sequence
    * of MINIMUM total cost under a pinned piece inventory, where a piece's
    * integer cost plays −log p in fixed-point (a cheaper piece = a more
    * probable subword) and characters outside the inventory fall back to
    * `fallbackCost`. Unlike BPE's greedy merge order, Viterbi finds the
    * globally optimal segmentation of every word.
    *
    * Engine-exact by construction: the DP state is ONE integer per prefix —
    * `score = cost·[[PieceScoreBase]] + n_pieces` — so minimizing the
    * combined integer minimizes (cost, n_pieces) lexicographically with a
    * deterministic tie-break and zero floating point anywhere; the same DP
    * replays as a DuckDB recursive CTE (the oracle interpolates the SAME
    * [[PieceScoreBase]]/[[DefaultFallbackCost]]/[[DefaultMaxPieceLen]]
    * constants, so the two sides cannot silently desync). Bounded: the
    * 2^20 base holds n_pieces for any word under [[MaxWordLen]] chars —
    * longer tokens (base64 blobs, data URLs) would wrap the piece count
    * into the cost field, so they are FILTERED OUT on both sides by the
    * same `length < MaxWordLen` predicate rather than scored wrongly —
    * and total cost ≤ len·511 < 2^29 keeps cost·2^20 far under 2^63.
    *
    * Scale: the DP runs once per DISTINCT word (the dictionary, Zipf-tiny
    * vs the corpus — the BPE-train word-table discipline) as one compiled
    * higher-order expression per word: O(len·maxPieceLen) lookups against
    * the inventory, which rides into the plan as a map literal. Then one
    * word-keyed join back to the token stream and one doc-keyed aggregate.
    * Output: (idCol, n_words, n_pieces, total_cost). */
  def unigramSegment(docs: DataFrame, idCol: String, textCol: String,
                     pieces: Seq[(String, Int)], fallbackCost: Int = DefaultFallbackCost,
                     maxPieceLen: Int = DefaultMaxPieceLen): DataFrame = {
    require(pieces.nonEmpty, "unigramSegment needs a piece inventory")
    require(fallbackCost > 0 && fallbackCost < 512, s"bad fallback: $fallbackCost")
    require(pieces.forall { case (p, c) =>
      p.nonEmpty && p.length <= maxPieceLen && c > 0 && c < 512 },
      s"pieces must be 1..$maxPieceLen chars with cost in (0, 512)")
    val vocab = typedLit(pieces.toMap)
    val w = col("_w")
    val tw = docs.select(col(idCol), explode(tokens(col(textCol))).as("_w"))
      .where(w =!= "" && length(w) < MaxWordLen)
    // cost of the candidate piece w[j+1 .. i]: inventory lookup, with the
    // single-char fallback guaranteeing every prefix stays reachable
    def pieceCost(j: Column, i: Column): Column = {
      val c = element_at(vocab, w.substr(j + lit(1), i - j))
      when(i - j === 1, coalesce(c, lit(fallbackCost))).otherwise(c)
    }
    // best(i+1) = min combined score over the last piece's start j;
    // array_min skips the NULLs of not-in-inventory candidates
    val best = aggregate(
      sequence(lit(1), length(w)), array(lit(0L)),
      (acc, i) => concat(acc, array(array_min(
        transform(sequence(greatest(lit(0), i - maxPieceLen), i - 1),
          j => element_at(acc, j + 1) +
            (pieceCost(j, i).cast("long") * PieceScoreBase + 1L))))))
    val dp = tw.select(w).distinct()
      .select(w, element_at(best, length(w) + 1).as("_fin"))
      .select(w, (col("_fin") % PieceScoreBase).as("_np"),
        ((col("_fin") - col("_fin") % PieceScoreBase) / PieceScoreBase)
          .cast("long").as("_cost"))
    tw.join(dp, "_w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("_np")).as("n_pieces"),
        sum(col("_cost")).as("total_cost"))
  }

  /** WordPiece greedy longest-match-first segmentation (Wu et al. 2016;
    * the BERT tokenizer's runtime algorithm) — the FOURTH tokenizer tier
    * beside whitespace counting, BPE merges, and unigram-LM Viterbi: at
    * each position take the LONGEST vocabulary piece that matches
    * (continuations carry the "##" prefix); if NO piece matches, the
    * whole word becomes one [UNK] token. Greedy is NOT globally optimal —
    * a longest first piece can strand the remainder (spec-pinned with a
    * planted trap word the Viterbi tier segments fine) — but it is what
    * BERT-family tokenizers actually run, so fertility/UNK-rate audits of
    * such tokenizers need THIS algorithm, not an idealization.
    *
    * Engine-exact: the greedy automaton folds over `length(w)` steps with
    * an integer/boolean state (pos, n_pieces, unk) — no floating point,
    * no ordering ambiguity (longest match is an integer argmax with
    * fixed candidate order), so the same machine replays as a DuckDB
    * recursive CTE over the SAME pinned vocabulary list (interpolated
    * from [[pinnedWordPieces]] into both sides — the ADVICE r15
    * no-silent-desync rule). Words at [[MaxWordLen]]+ chars are filtered
    * on both sides (the unigramSegment bound — the fold would otherwise
    * iterate per character of arbitrarily long blobs).
    *
    * Scale: the automaton runs once per DISTINCT word (the dictionary
    * discipline) as one compiled higher-order expression; the vocabulary
    * rides as a map literal (O(1) lookups). One word-keyed join back,
    * one doc-keyed aggregate. Output: (idCol, n_words, n_pieces, n_unk) —
    * an [UNK] word counts 1 piece. */
  def wordpieceSegment(docs: DataFrame, idCol: String, textCol: String,
                       vocab: Seq[String],
                       maxPieceLen: Int = DefaultMaxPieceLen): DataFrame = {
    require(vocab.nonEmpty, "wordpieceSegment needs a vocabulary")
    val stripped = vocab.map(p => if (p.startsWith("##")) p.drop(2) else p)
    require(stripped.forall(p => p.nonEmpty && p.length <= maxPieceLen),
      s"vocab pieces must be 1..$maxPieceLen chars after the ## strip")
    val vmap = typedLit(vocab.map(_ -> 1).toMap)
    val w = col("_w")
    val tw = docs.select(col(idCol), explode(tokens(col(textCol))).as("_w"))
      .where(w =!= "" && length(w) < MaxWordLen)
    def st(s: Column, f: String): Column = s.getField(f)
    // longest j whose piece (##-prefixed past position 0) is in-vocab;
    // array_max skips the NULLs of non-matching candidates
    def bestLen(s: Column): Column = array_max(array((1 to maxPieceLen).map { j =>
      val piece = when(st(s, "pos") === 0, w.substr(st(s, "pos") + 1, lit(j)))
        .otherwise(concat(lit("##"), w.substr(st(s, "pos") + 1, lit(j))))
      when(st(s, "pos") + j <= length(w) &&
        element_at(vmap, piece).isNotNull, lit(j))
    }: _*))
    val state0 = struct(lit(0).as("pos"), lit(0L).as("np"), lit(false).as("unk"))
    val fold = aggregate(sequence(lit(1), length(w)), state0, (s, _) => {
      val b = bestLen(s)
      when(st(s, "unk") || st(s, "pos") >= length(w), s)
        .otherwise(when(b.isNull,
          struct(st(s, "pos").as("pos"), st(s, "np").as("np"), lit(true).as("unk")))
        .otherwise(struct((st(s, "pos") + b).cast("int").as("pos"),
          (st(s, "np") + 1L).as("np"), lit(false).as("unk"))))
    })
    val dp = tw.select(w).distinct()
      .select(w, fold.as("_st"))
      .select(w, when(col("_st.unk"), 1L).otherwise(col("_st.np")).as("_np"),
        col("_st.unk").as("_unk"))
    tw.join(dp, "_w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("_np")).as("n_pieces"),
        sum(when(col("_unk"), 1L).otherwise(0L)).as("n_unk"))
  }

  /** Pinned WordPiece vocabulary for `wordpiece_segment` — the
    * pinnedPieces discipline (artifact pinned, machinery real): initial
    * pieces plus ##-continuations chosen a priori to cover most of the
    * testdata's word shapes through genuine multi-piece splits, with the
    * remainder falling to [UNK]. */
  val pinnedWordPieces: Seq[String] = Seq(
    "the", "a", "join", "hash", "row", "scan", "slow", "fast", "key",
    "agg", "part", "big", "sort", "val", "##ue", "tab", "##le", "col",
    "##umn", "cust", "##omer", "fil", "##ter", "win", "##dow", "bat",
    "##ch", "mer", "##ge", "ord", "##er", "str", "##eam", "gr", "##oup",
    "sm", "##all", "li", "##ne", "da", "##ta", "sp", "##ark", "que",
    "##ry", "vec", "##tor")

  /** Pinned piece inventory for `unigram_segment` — chosen a priori
    * against the testdata's word shapes (the pinnedMerges discipline:
    * artifacts pinned, the Viterbi machinery real), with deliberate
    * stress cases: whole-word pieces ("the", "join"), competing splits
    * ("fil"+"ter" vs chars), pieces that only win in combination, and
    * words with no inventory coverage at all (pure fallback). Costs play
    * −log p in fixed-point: common pieces cheap, fallback chars dear. */
  val pinnedPieces: Seq[(String, Int)] = Seq(
    "the" -> 4, "join" -> 5, "hash" -> 5, "scan" -> 5, "row" -> 4,
    "fil" -> 4, "ter" -> 4, "win" -> 4, "dow" -> 4, "cust" -> 5,
    "omer" -> 5, "col" -> 4, "umn" -> 4, "que" -> 4, "ry" -> 3,
    "spa" -> 4, "rk" -> 3, "str" -> 4, "eam" -> 4, "me" -> 3,
    "rge" -> 4, "gr" -> 3, "oup" -> 4, "so" -> 3, "rt" -> 3,
    "da" -> 3, "ta" -> 3, "va" -> 3, "lue" -> 4, "key" -> 4,
    "big" -> 4, "fast" -> 5, "slow" -> 5, "part" -> 5, "agg" -> 4,
    "dup" -> 4, "line" -> 5, "or" -> 3, "der" -> 3, "ba" -> 3,
    "tch" -> 4, "ve" -> 3, "ct" -> 3, "sma" -> 4, "ll" -> 3,
    "a" -> 2)
}
