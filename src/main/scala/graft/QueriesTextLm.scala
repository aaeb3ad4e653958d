package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.IngestDiscovery
/** Registry part 3 of SparkEntry.queries: the text/LM families — LM
  * scoring tiers, corpus statistics (Zipf/Heaps/entropy/…), sketches
  * (CMS/F2/HLL/quantile), tokenizers (BPE/unigram/WordPiece), text
  * quality + profiling, retrieval ranking, and the remaining warehouse
  * analytics (funnel/cohort/cube/gap-fill) plus mixture design. */
private[graft] object QueriesTextLm {
  import QueryShared._

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lm_score" -> ((s, d) =>
      TextAnalysis.lmScore(Tables.documents(s, d), "doc_id", "text")),
    // §2.2 row 27f — bigram LM quality score (lm_score one model order up:
    // mean log P(w_i | w_{i-1}) under the corpus's own MLE bigram model)
    "lm_bigram" -> ((s, d) =>
      TextAnalysis.lmBigram(Tables.documents(s, d), "doc_id", "text")),
    // §2.2 row L27l — interpolated Kneser–Ney bigram scoring (round 14):
    // continuation-probability smoothing over the same two corpus
    // shuffles as lm_bigram; D=0.75 dyadic, identical parenthesization
    // both engines, 6dp DECIMAL weighted sums.
    "lm_kneser_ney" -> ((s, d) =>
      TextAnalysis.lmKneserNey(Tables.documents(s, d), "doc_id", "text")),
    // §2.2 row L27l (round 16): interpolated KN one model order up —
    // trigram top level, continuation-count middle order on the distinct
    // (w2,w3) pair table, pair-continuation base; same oracle contract
    // (dyadic D, identical parenthesization, 6dp DECIMAL weighted sums).
    "lm_kn_trigram" -> ((s, d) =>
      TextAnalysis.lmKneserNeyTrigram(Tables.documents(s, d), "doc_id", "text")),
    // §2.2 row L27m — Zipf-fit corpus diagnostic (round 14): OLS of
    // ln(freq) on ln(rank) over the top-1000 vocabulary head; DECIMAL
    // sums + identically-parenthesized double closed forms replay in SQL.
    "zipf_fit" -> ((s, d) =>
      TextAnalysis.zipfFit(Tables.documents(s, d), "text")),
    // §2.2 row L27m (per-source form): one (slope, r2) row per source so
    // a boilerplate-flooded source reads non-Zipfian next to its peers.
    "zipf_by_source" -> ((s, d) =>
      TextAnalysis.zipfFitBySource(Tables.documents(s, d), "source", "text")),
    // §2.2 row L27m (robust form, round 15): Theil–Sen median of
    // pairwise slopes over the SAME head — a 29.3% breakdown point where
    // one corrupted head frequency drags the OLS slope arbitrarily;
    // lower-median convention keeps the whole chain engine-exact.
    "zipf_theil_sen" -> ((s, d) =>
      TextAnalysis.zipfTheilSen(Tables.documents(s, d), "text")),
    // §2.2 row L22j — Self-BLEU clipped n-gram precision, source vs rest
    // (round 16; Papineni 2002 / Zhu 2018): the MULTISET redundancy
    // monitor beside source_overlap's set Jaccard — c_rest = c_total −
    // c_src, so no pair join ever forms (the ksBySource discipline);
    // exact integer clip/total pairs per order + the 6dp-decimal
    // geometric-mean log precision.
    "self_bleu" -> ((s, d) =>
      TextAnalysis.selfBleu(Tables.documents(s, d), "source", "text")),
    // §2.2 row L27n — Heaps'-law vocabulary-growth fit (round 16): V =
    // K·n^beta over the per-source (tokens, vocab) points — the growth
    // dual of zipf_fit's frequency decay; same 6dp-ln DECIMAL sums +
    // fixed-parenthesization OLS.
    "heaps_law" -> ((s, d) =>
      TextAnalysis.heapsLaw(Tables.documents(s, d), "source", "text")),
    // §2.2 row L27q — stupid-backoff trigram scoring (round 16, third
    // session): the Brants et al. distributed production LM, trained on
    // even doc ids and scoring the odd ones so the backoff chain
    // actually fires (the held-out LM-eval shape)
    "lm_stupid_backoff" -> ((s, d) =>
      TextAnalysis.lmStupidBackoff(Tables.documents(s, d), "doc_id", "text")),
    // §2.2 row L27r — token burstiness (round 16, third session): VMR
    // index of dispersion for the top-30 tokens — separates topical
    // content words (VMR >> 1) from once-per-page template words
    "token_burstiness" -> ((s, d) =>
      TextAnalysis.tokenBurstiness(Tables.documents(s, d), "doc_id", "text", 30)),
    // §2.2 row L27s — vocabulary-concentration Gini per source (round
    // 16, third session): exact from the frequency spectrum, never a
    // per-type sort
    "vocab_gini" -> ((s, d) =>
      TextAnalysis.vocabGini(Tables.documents(s, d), "source", "text")),
    // §2.2 row L27w — conditional bigram entropy rate (round 16, third
    // session): corpus predictability in nats/token — templated text
    // reads low, junk reads near the ceiling; h_bigram − h_rate = H(w1)
    "entropy_rate" -> ((s, d) =>
      TextAnalysis.entropyRate(Tables.documents(s, d), "text")),
    // §2.2 row L27u — source-token mutual information (round 16, third
    // session): the template/leakage detector — U near 1 means tokens
    // identify their source (headers, watermarks, markup)
    "source_token_mi" -> ((s, d) =>
      TextAnalysis.sourceTokenMi(Tables.documents(s, d), "source", "text")),
    // §2.2 row L27v — Chao1 richness + Good–Turing coverage (round 16,
    // third session): is this source mined out, or does more crawl buy
    // more vocabulary
    "chao1_richness" -> ((s, d) =>
      TextAnalysis.chao1Richness(Tables.documents(s, d), "source", "text")),
    // §2.2 row L27o — Yule's K lexical diversity (round 16, third
    // session): the length-robust repeat-rate constant + TTR + hapax
    // ratio per source — the third corpus-health axis beside Zipf decay
    // and Heaps growth
    "yule_k" -> ((s, d) =>
      TextAnalysis.lexicalDiversity(Tables.documents(s, d), "source", "text")),
    // §2.2 row L27p — Jensen–Shannon divergence, source vs rest (round
    // 16, third session): the bounded symmetric distributional distance
    // mixture design uses — count-weighted form, rest = total − slice,
    // no pair join
    "js_divergence" -> ((s, d) =>
      TextAnalysis.jsDivergence(Tables.documents(s, d), "source", "text")),
    // §2.2 row 27g — per-doc token-distribution entropy + ratio to max
    // (the repetitive/templated-text signal)
    "token_entropy" -> ((s, d) =>
      TextAnalysis.tokenEntropy(Tables.documents(s, d), "doc_id", "text")),
    // §2.2 row 22d — per-doc n-gram novelty (fraction of the doc's distinct
    // 3-grams found nowhere else in the corpus — diversity diagnostic)
    "ngram_novelty" -> ((s, d) =>
      TextAnalysis.ngramNovelty(Tables.documents(s, d), "doc_id", "text", 3)),
    // §2.2 row 25c — per-label embedding centroids (class prototypes),
    // exploded to scalar rows so the oracle hashes element-wise
    "label_centroids" -> ((s, d) =>
      Similarity.labelCentroids(Tables.embeddings(s, d), "label", "embedding")
        .select(col("label"), col("n_vecs"), posexplode(col("centroid")))
        .select(col("label"), col("n_vecs"), col("pos"), col("col").as("c"))),
    // §2.2 row 29b — corpus vocabulary (token frequencies)
    "vocab_top" -> ((s, d) => TextAnalysis.vocabulary(Tables.documents(s, d), "text", 30)),
    // §2.2 row L29y — Count-Min Sketch frequency estimation (round 14):
    // one-pass depth×width sketch (salted-md5 buckets, the hashed-
    // classifier convention), probed at the exact top-30 tokens; the
    // min-over-rows estimate and its one-sided overcount replay in SQL.
    "cms_counts" -> ((s, d) => TextAnalysis.cmsCounts(Tables.documents(s, d), "text")),
    // §2.2 row L29bb — AMS F2 / self-join-size sketch (round 16, Alon–
    // Matias–Szegedy tug-of-war): 96 signed sums from the md5 bits of
    // each key estimate Σf² — the exact self-join size of lineitem on
    // l_orderkey, the number a planner needs to size the shuffle BEFORE
    // joining; ≤ 96 longs per task cross the exchange at any stream
    // size, and the median-of-means chain is integer/dyadic throughout so
    // the whole estimator replays bit-for-bit. Exact F2 runs beside it as
    // the verification surface (the cmsCounts probe discipline).
    "f2_sketch" -> ((s, d) =>
      F2Sketch.f2Diagnostics(Tables.lineitem(s, d), Nil, "l_orderkey")),
    // the grouped form — per-source token F2 (the repetition/skew monitor:
    // F2/n² rises when few tokens dominate a source); state is
    // |sources|×96 longs at any corpus size
    "f2_by_source" -> ((s, d) =>
      F2Sketch.f2Diagnostics(
        Tables.documents(s, d)
          .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("token"))
          .where(col("token") =!= ""),
        Seq("source"), "token")),
    // the INNER-PRODUCT form — E[Z_a·Z_b] = Σ f_a·f_b = |A ⋈ B| on the
    // key: estimate the many×many events⋈orders fan-out (≈67 events/user
    // × ≈10 orders/cust) from two independently-built 96-long sketches,
    // BEFORE any join runs; exact Σ c_a·c_b rides as the verification
    // surface
    "join_size_est" -> ((s, d) =>
      F2Sketch.joinSizeDiagnostics(Tables.events(s, d), "user_id",
        Tables.orders(s, d), "o_custkey")),
    // §2.2 row L29z — HyperLogLog cardinality sketch (round 15): 256
    // one-byte registers over the raw token stream (no distinct anywhere —
    // max is idempotent), register-wise-max merge law, and the corrected
    // estimate; both replay exactly in SQL (bin() is unpadded in both
    // engines, the 2^-r sum is dyadic-exact order-free). The first
    // ORACLED cardinality sketch — approx_stats stays the built-in
    // (non-replayable HLL++) tier.
    "hll_registers" -> ((s, d) =>
      TextAnalysis.hllRegisters(Tables.documents(s, d), "text")),
    "hll_estimate" -> ((s, d) =>
      TextAnalysis.hllEstimate(Tables.documents(s, d), "text")),
    // the grouped form — per-source vocabulary-richness monitor
    // (|sources|×256 rows of state at any corpus size)
    "hll_by_source" -> ((s, d) =>
      TextAnalysis.hllEstimateBy(Tables.documents(s, d), Seq("source"), "text")),
    // sketch ALGEBRA: per-pair union (exact via max merge law) +
    // inclusion–exclusion intersection — the cross-source vocabulary
    // overlap monitor in |sources|·256 rows of state
    "hll_set_ops" -> ((s, d) =>
      TextAnalysis.hllSetOps(Tables.documents(s, d), "source", "text")),
    // §2.2 row L29aa — deterministic mergeable quantile sketch (round 16,
    // Agarwal et al. 2012 with md5 coins): ≤ k uniform-by-hash survivors
    // at the smallest admissible halving level; order statistics of the
    // survivors estimate the quantiles; EXACT merge law (union+
    // re-threshold), fully replayable — the quantile tier approx_
    // percentile's non-replayable GK internals can't provide.
    "quantile_sketch" -> ((s, d) =>
      QuantileSketch.estimates(Tables.orders(s, d), None, "o_orderkey",
        "o_totalprice", 256, Seq(10, 100, 250, 500, 750, 900, 990))),
    // the grouped form — per-source document-length quantile monitor
    "quantile_sketch_by" -> ((s, d) =>
      QuantileSketch.estimates(Tables.documents(s, d), Some("source"),
        "doc_id", "n_chars", 128, Seq(250, 500, 750, 900))),
    // §2.2 row 31 — BPE tokenizer training (Sennrich word-frequency
    // formulation: ONE corpus pass builds the word table, then — vocab
    // being far under Bpe.DriverVocabBound — the merge loop runs
    // driver-side with incremental pair counts, the production-trainer
    // shape; the distributed per-round carrier engages past the bound and
    // is spec-pinned merge-for-merge against this one). Iterative →
    // rows-only oracle; the merge list is also spec-checked against an
    // in-memory reference trainer (BpeSpec). memoize=false so every bench
    // rep pays the REAL training (the memo would otherwise hide it behind
    // min-of-reps); bpe_segment keeps the memo — segmentation under an
    // already-trained tokenizer is the realistic shape there.
    "bpe_train" -> ((s, d) =>
      Bpe.mergesDF(s, Bpe.train(Tables.documents(s, d), "text", 32, memoize = false))),
    // §2.2 row 31 — BPE segmentation under the trained merges: one
    // compiled map-side expression, zero shuffles (training memoized, so
    // this reuses bpe_train's merges within the session)
    "bpe_segment" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = Bpe.train(docs, "text", 32)
      Bpe.segment(docs, "doc_id", "text", merges)
        .select(col("doc_id"), coalesce(size(col("pieces")), lit(0)).as("n_pieces"),
          concat_ws(" ", slice(col("pieces"), 1, 12)).as("head_pieces"))
    }),
    // §2.2 row 31 — BPE segmentation under a PINNED literal merge list,
    // FULLY row-hash-oracled (round 12, the pinned-artifact precedent's
    // fifth application): TRAINING is genuinely iterative-data-dependent
    // (rows-only, spec-gated), but segmentation under a FIXED merge table
    // is a deterministic per-word rewrite system a DuckDB recursive CTE
    // can replay exactly — lowest-rank-first, all non-overlapping
    // occurrences left-to-right per round (see the oracle's state-machine
    // CTE). Same BpeSegmentExpr code path as bpe_segment.
    // Degenerate cases aligned with the oracle (round 13): NULL text →
    // NULL pieces under ANSI size(), coalesced to the oracle's 0;
    // tokenization runs the same literal whitespace class in both engines
    // (see Bpe.tokens — Java \s vs RE2 \s differ on U+000B).
    "bpe_segment_fixed" -> ((s, d) =>
      Bpe.segment(Tables.documents(s, d), "doc_id", "text", pinnedMerges)
        .select(col("doc_id"), coalesce(size(col("pieces")), lit(0)).as("n_pieces"),
          concat_ws(" ", slice(col("pieces"), 1, 12)).as("head_pieces"))),
    // §2.2 row 31b — tokenizer fertility (pieces per word, per language):
    // the compression-ratio eval for tokenizer choice; pure projection
    // (the pinned-merge segmenter) + one lang-keyed aggregate, fertility
    // is one double division of exactly-summed integer counts
    "bpe_fertility" -> ((s, d) => {
      val toks = TextAnalysis.tokens(col("text"))
      Tables.documents(s, d).select(col("lang"),
          coalesce(size(graft.functions.NativeExprs.bpeSegment(
            toks, pinnedMerges, "</w>")), lit(0)).cast("long").as("_np"),
          size(filter(toks, w => w =!= "")).cast("long").as("_nw"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_nw")).as("n_words"),
          sum(col("_np")).as("n_pieces"))
        .withColumn("fertility",
          col("n_pieces").cast("double") / col("n_words"))
    }),
    // §2.2 row L31c — unigram-LM (SentencePiece-style) Viterbi
    // segmentation (round 15): globally optimal min-cost split of every
    // distinct word under the pinned integer-cost piece inventory; the
    // combined cost·PieceScoreBase+pieces DP integer makes the whole
    // operator float-free and the SQL replay a recursive CTE over the
    // same DP (base/fallback/maxPieceLen interpolated from Bpe into BOTH
    // sides — ADVICE r15).
    "unigram_segment" -> ((s, d) =>
      Bpe.unigramSegment(Tables.documents(s, d), "doc_id", "text",
        Bpe.pinnedPieces)),
    // §2.2 row L31d — WordPiece greedy longest-match segmentation (round
    // 16, the BERT tokenizer's runtime algorithm): FOURTH tokenizer tier;
    // per DISTINCT word an integer/boolean greedy automaton (no FP, fixed
    // candidate order), ##-continuations, whole-word [UNK] on a stranded
    // remainder; fully replayable as a recursive CTE over the SAME pinned
    // vocabulary (interpolated into both sides).
    "wordpiece_segment" -> ((s, d) =>
      Bpe.wordpieceSegment(Tables.documents(s, d), "doc_id", "text",
        Bpe.pinnedWordPieces)),
    // §2.1 row 17b — single-pass column profiling
    // (spread: the 4-column exact-distinct profile Expands the input 4x,
    // all fused into the single-row-group scan without it)
    "profile_columns" -> ((s, d) => Quality.profileColumns(Tables.spread(s, d, "orders", Tables.orders(s, d)),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))),
    // §2.1 row 8c — Benford first-digit conformance (round 16, third
    // session): the forensic data-quality gate for organic positive
    // amounts — digit histogram with per-digit χ² contributions over
    // order totals, expected probabilities as pinned 6dp literals
    "benford_digits" -> ((s, d) =>
      Quality.benfordDigits(Tables.orders(s, d), "o_totalprice")),
    // §2.1 row 8c rolled to the one-row verdict: χ² (df=8, 1% critical
    // value pinned) + Nigrini's MAD
    "benford_stat" -> ((s, d) =>
      Quality.benfordStat(Tables.orders(s, d), "o_totalprice")),
    // §2.2 row 27 — Unicode NFC normalization (pre-dedup canonicalization)
    "unicode_norm" -> ((s, d) => {
      val nfc = graft.functions.NativeExprs.nfcNormalize(col("text"))
      Tables.documents(s, d).select(col("doc_id"),
        length(nfc).as("len_nfc"), (nfc === col("text")).as("unchanged"))
    }),
    // §2.2 row 30b — rolling-hash winnowing fingerprints, FULLY oracled
    // (round 11): the MD5 token-hash variant (the simhash precedent) makes
    // the whole rolling chain replayable in DuckDB — h = (h*B + t) mod
    // 2^64 in HUGEINT, window-min, distinct — so the driver hash-gates the
    // actual fingerprint SETS, exploded to scalar rows. The xxh64 default
    // stays the production path (spec-covered; winnow_overlap runs it).
    "winnow_fingerprint" -> ((s, d) => {
      val fps = graft.functions.NativeExprs.winnowFingerprints(
        TextAnalysis.tokens(col("text")), 5, 4, md5Hash = true)
      Tables.documents(s, d).select(col("doc_id"), fps.as("_fps"))
        .select(col("doc_id"), explode(col("_fps")).as("fp"))
    }),
    // §2.2 row 30b — winnowing invariant, oracled: a document always shares
    // fingerprints with a prefix-shifted copy of itself (the position-
    // robustness property winnowing exists for; a position-anchored
    // fingerprinter fails this), and fingerprint sets are non-empty.
    "winnow_overlap" -> ((s, d) => {
      def fpsOf(t: org.apache.spark.sql.Column) =
        graft.functions.NativeExprs.winnowFingerprints(TextAnalysis.tokens(t), 5, 4)
      val fps = fpsOf(col("text"))
      val shifted = fpsOf(concat(lit("shifted prefix padding tokens "), col("text")))
      Tables.documents(s, d)
        .filter(col("doc_id") % 20 === 0 && size(TextAnalysis.tokens(col("text"))) >= 16)
        .select(col("doc_id"),
          (size(fps) > 0).as("has_fps"),
          (size(array_intersect(fps, shifted)) > 0).as("prefix_overlap"))
    }),
    // §2.2 rows 27-30 — text analysis
    "text_quality" -> ((s, d) => TextAnalysis.textQuality(Tables.documents(s, d), "doc_id", "text")),
    // §2.2 row L27x — encoding-artifact (mojibake) gate: plants all three
    // artifact classes on doc_id moduli (digraphs %17, U+FFFD %19,
    // â€/Â digraphs + a raw C1 NEL %23) so every counter and both keep
    // verdicts fire at every SF; raw testdata carries NONE of these bytes
    // (verified), so the Java-vs-RE2 dot/line-terminator edge never sees
    // real data — plants keep artifact chars away from line terminators
    "mojibake_gate" -> ((s, d) =>
      TextAnalysis.mojibakeGate(
        Tables.documents(s, d).where(col("text").isNotNull)
          .select(col("doc_id"), concat(col("text"),
            when(col("doc_id") % 17 === 0, lit(MojiPlant17))
              .when(col("doc_id") % 19 === 0, lit(MojiPlant19))
              .when(col("doc_id") % 23 === 0, lit(MojiPlant23))
              .otherwise(lit(""))).as("text")),
        "doc_id", "text")),
    // §2.2 row L28b — per-source Unicode-script profile: plants Cyrillic
    // (%29), Han+digits (%31), Arabic (%37), accented Latin (%41) on
    // doc_id moduli so every script counter fires at every SF (raw
    // testdata is pure ASCII — verified)
    "script_profile" -> ((s, d) =>
      TextAnalysis.scriptProfile(
        Tables.documents(s, d).where(col("text").isNotNull)
          .select(col("source"), concat(col("text"),
            when(col("doc_id") % 29 === 0, lit(ScriptPlant29))
              .when(col("doc_id") % 31 === 0, lit(ScriptPlant31))
              .when(col("doc_id") % 37 === 0, lit(ScriptPlant37))
              .when(col("doc_id") % 41 === 0, lit(ScriptPlant41))
              .otherwise(lit(""))).as("text")),
        "source", "text")),
    "lang_id" -> ((s, d) => TextAnalysis.langId(Tables.documents(s, d), "doc_id", "text")),
    "token_count" -> ((s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d), "doc_id", "text")),
    "doc_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(Tables.documents(s, d), "doc_id", "text", 3)),
    // §2.2 row 27c — Gopher-style repetition quality filter (dup-bigram and
    // top-bigram fractions; explode + doc_id-keyed partial aggs)
    "rep_filter" -> ((s, d) =>
      TextAnalysis.repetitionFilter(Tables.documents(s, d), "doc_id", "text", 2, 0.2)),
    // §2.2 row 23b — BM25 inverted-index retrieval: every ~97th doc's first
    // 6 tokens form a query; postings + query-vocab df probe + bounded-heap
    // top-10 (scores decimal-summed → accumulation-order independent)
    "bm25_topk" -> ((s, d) => {
      val queries = Tables.documents(s, d)
        .where(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 6)).as("qtext"))
      Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        queries, "qid", "qtext", 10)
    }),
    // §2.2 row L23e — hybrid retrieval via reciprocal-rank fusion (round
    // 16, Cormack et al. 2009): the SAME query ids drive both rankers —
    // BM25 over the doc's first-6-token probe and exact-cosine ANN over
    // its embedding (vec_id aligns with doc_id in the testdata) — and RRF
    // fuses the two top-10 lists rank-only (no cross-ranker score
    // calibration), 1/(60+rank) contributions decimal-summed. Every stage
    // is bounded by |queries|·k, so the fusion adds NO corpus-sized work
    // on top of its rankers. The query doc itself stays in both lists
    // (self-retrieval sanity: it should fuse to rank 1).
    "hybrid_rrf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val e = Tables.embeddings(s, d)
      val queries = docs
        .where(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 6)).as("qtext"))
      // The two rankers are INDEPENDENT corpus passes (BM25 over documents,
      // exact cosine over embeddings) fused rank-only afterwards — overlap
      // them from driver threads (guide §2.6): each ranker materializes its
      // |queries|·k-row top list via an eager query-scoped checkpoint on
      // its own thread (BM25's eager stats pre-pass runs inside its
      // thread too), and rrfFuse consumes the two tiny checkpointed lists.
      // Identical results — same lists, evaluated concurrently.
      val rankers: Seq[() => DataFrame] = Seq(
        () => Retrieval.bm25TopK(docs, "doc_id", "text",
            queries, "qid", "qtext", 10)
          .select(col("query_id"), col("doc_id"), col("rank")),
        () => Similarity.exactTopK(e.where(col("vec_id") % 97 === 0), e,
            "vec_id", "embedding", 10)
          .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank")))
      val done = new Array[DataFrame](rankers.size)
      Pipeline.inParallel(rankers.zipWithIndex.map { case (f, i) =>
        () => done(i) = graft.Ckpt.local(f())
      }: _*)
      Retrieval.rrfFuse(done.toSeq, 10)
    }),
    // §2.1 row 19b — sequential funnel over the event stream (view → click →
    // purchase, each step strictly after the user's previous-step time)
    "funnel_steps" -> ((s, d) =>
      Events.funnel(Tables.events(s, d), col("event_type"),
        Seq("view", "click", "purchase"))),
    // §2.1 row 19c — weekly cohort retention grid
    "cohort_retention" -> ((s, d) =>
      Events.cohortRetention(Tables.events(s, d))),
    // §2.1 row 19d — CUBE cross-tab over the same revenue fact rollup uses
    "cube_revenue" -> ((s, d) => {
      val f = Tables.spread(s, d, "lineitem", Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")))
        .join(Tables.orders(s, d).select(
          col("o_orderkey").as("l_orderkey"), col("o_custkey"), col("o_orderdate")), Seq("l_orderkey"))
        .join(broadcast(Tables.customer(s, d).select(
          col("c_custkey").as("o_custkey"), col("c_mktsegment"))), Seq("o_custkey"))
        .select(year(col("o_orderdate")).as("year"), col("c_mktsegment").as("segment"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      Analytics.cubeAgg(f, Seq(col("year"), col("segment")),
        Seq(count(lit(1)).as("n_items"),
          sum(col("rev").cast("decimal(18,4)")).cast("double").as("revenue")))
    }),
    // §2.1 row 19e — winsorized prices (per-priority [p05, p95] clamp)
    "winsorize_prices" -> ((s, d) =>
      Analytics.winsorize(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")),
        Seq(col("o_orderpriority")), col("o_totalprice"), 0.05, 0.95, "w_price")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"), col("w_price"))),
    // §2.1 row 19f — per-user daily gap fill with forward fill
    "gap_fill" -> ((s, d) =>
      Analytics.gapFill(Tables.events(s, d), col("user_id"), to_date(col("ts")),
        sum(col("value").cast("decimal(18,4)")).cast("double"))
        .select(col("key").as("user_id"), col("day"), col("day_value"),
          col("filled_value"), col("is_filled"))),
    // §2.2 row 29k — exact heavy hitters via the two-pass Misra-Gries sketch
    // (tokens above 1/40 of the stream; capacity 64 >= 40 keeps the no-miss
    // guarantee). The oracle recomputes the same exact counts directly.
    "heavy_hitters" -> ((s, d) =>
      TextAnalysis.heavyHitters(Tables.documents(s, d), "text", 40, 64)),
    // §2.2 row 29l — token-balanced training shards in md5 shuffle order
    "shard_assign" -> ((s, d) =>
      TextAnalysis.shardTokenBudget(Tables.documents(s, d), "doc_id", "text", 16)),
    // §2.2 row 25d — per-class prototype-distance outlier flags
    "centroid_outliers" -> ((s, d) =>
      Similarity.centroidOutliers(Tables.embeddings(s, d),
        "vec_id", "label", "embedding", 0.0)),
    // §2.1 row 19g — hot-key skew diagnostics (top-10 heaviest order keys)
    "skew_profile" -> ((s, d) =>
      Analytics.skewProfile(
        Tables.orders(s, d).select(col("o_custkey")), col("o_custkey"), "o_custkey", 10)),
    // §2.2 row 29m — power-of-two token-length histogram (packing planner)
    "len_histogram" -> ((s, d) =>
      TextAnalysis.tokenLengthHistogram(Tables.documents(s, d), "text")),
    // §2.1 row 17f — snapshot profile drift between the two source slices
    "schema_drift" -> ((s, d) =>
      Quality.profileDrift(srcA(s, d), srcB(s, d),
        Seq("c_custkey", "c_name", "c_acctbal", "c_mktsegment"))),
    // §2.2 row 29n — per-source document cap (domain-cap curation)
    "source_cap" -> ((s, d) =>
      TextAnalysis.sourceCap(Tables.documents(s, d), "doc_id", "source", 10)),
    // §2.2 row 27e — composite corpus quality gate with ordered reasons
    "corpus_gate" -> ((s, d) =>
      TextAnalysis.corpusGate(Tables.documents(s, d), "doc_id", "text",
        30, 0.05, 0.2)),
    // §2.2 row L27aa — C4-style word-blocklist gate: token-granularity
    // (never substring — "a" in the list must NOT block "data"/"batch"
    // docs), map-side literals, zero shuffles; "vile" exercises the
    // never-present-term path
    "blocklist_gate" -> ((s, d) =>
      TextAnalysis.blocklistGate(Tables.documents(s, d), "doc_id", "text",
        Seq("a", "dup", "slow", "vile"))),
    // §2.2 row 27h — top-5 TF-IDF keyword extraction per document
    "tfidf_top" -> ((s, d) =>
      TextAnalysis.tfidfTop(Tables.documents(s, d), "doc_id", "text", 5)),
    // §2.2 row 29p — training-mixture reweighting to a target language
    // share (weights > 1 = epochs, < 1 = subsample rate)
    "mix_weights" -> ((s, d) =>
      TextAnalysis.mixWeights(Tables.documents(s, d), "lang", "text",
        Map("en" -> 0.5, "zh" -> 0.2, "fr" -> 0.1, "es" -> 0.1, "de" -> 0.1))),
    // §2.2 row 29t — mixture-epoch materialization: declared per-lang
    // weights become the physical training list (floor(w) full epochs +
    // one deterministic-Bernoulli partial epoch); map-side only
    "mix_epochs" -> ((s, d) =>
      TextAnalysis.materializeEpochs(Tables.documents(s, d), "lang", "doc_id",
        Map("en" -> 1.6, "zh" -> 2.3, "es" -> 0.5, "fr" -> 0.25, "de" -> 1.0))),
    // §2.2 row 29q — DSIR importance weights (hashed unigram+bigram
    // log-likelihood ratio vs the English subset as target): the model is
    // bounded at 1024 bucket rows no matter the corpus size; scoring is a
    // broadcast join, the only corpus shuffle is the per-doc sum
    "dsir_weights" -> ((s, d) =>
      TextAnalysis.dsirWeights(Tables.documents(s, d), "doc_id", "text",
        col("lang") === "en", 1024)),
    // §2.2 row 27j — model-based quality filter (fastText/CCNet-style
    // hashed linear classifier, APPLY side): pure projection, zero
    // shuffles — the pinned dyadic weight vector stands in for trained
    // parameters (same plan either way)
    "quality_classify" -> ((s, d) =>
      TextAnalysis.hashClassifier(Tables.documents(s, d), "doc_id", "text",
        classifierWeights)),
    // §2.2 row L27y — gate-agreement: Cohen's kappa between the heuristic
    // composite gate (corpus_gate keep) and the trained-classifier gate
    // (quality_classify kept) — does the classifier add information over
    // the heuristics, or re-measure them?
    "gate_agreement" -> ((s, d) => {
      val g = TextAnalysis.corpusGate(Tables.documents(s, d), "doc_id", "text",
        30, 0.05, 0.2).select(col("doc_id"), col("keep").as("_a"))
      val c = TextAnalysis.hashClassifier(Tables.documents(s, d), "doc_id", "text",
        classifierWeights).select(col("doc_id"), col("kept").as("_b"))
      Analytics.cohenKappa(g.join(c, Seq("doc_id")), col("_a"), col("_b"))
    }),
    // §2.2 row L27z — Spearman ρ between doc length and the classifier
    // score: the continuous form of L27y's question (is the quality
    // score re-measuring length?), tie-exact midranks
    "quality_length_corr" -> ((s, d) => {
      val c = TextAnalysis.hashClassifier(Tables.documents(s, d), "doc_id", "text",
        classifierWeights).select(col("doc_id"), col("logit"))
      // shuffle_hash hint: broadcasting the classifier side re-executes
      // its whole chain inside the one-task broadcast build (see
      // spearmanCorr's merge-hint note) — 8.2 s vs 0.6 s measured
      val j = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
        .join(c.hint("shuffle_hash"), Seq("doc_id"))
      Analytics.spearmanCorr(j, col("n_chars"), col("logit"))
    }),
    // §2.2 row 27k — domain-level keep decision above the per-doc gate:
    // a source survives only when it's big enough to judge AND mostly
    // classifier-clean (the spam-domain wholesale drop)
    "domain_gate" -> ((s, d) =>
      TextAnalysis.domainGate(Tables.documents(s, d), "doc_id", "text",
        "source", "n_chars", classifierWeights)),
    // §2.2 row 29r — exact per-source length deciles (curriculum/eval-split
    // bucketing) via the two-phase rank, not a per-source global sort
    "quality_deciles" -> ((s, d) =>
      Analytics.ntileBuckets(Tables.documents(s, d),
        col("source"), col("n_chars"), col("doc_id"), 10)
        .select(col("id").as("doc_id"), col("stratum").as("source"),
          col("value").as("n_chars"), col("bucket").as("decile"))),
    // §2.1 row 17j — 7-day trailing revenue window per event type on the
    // gap-filled day spine (DECIMAL-exact through the sliding frame)
    "moving_avg" -> ((s, d) =>
      Analytics.movingAvg(Tables.events(s, d), col("event_type"), col("ts"),
        col("value"), 7)
        .select(col("key").as("event_type"), col("day"), col("n_events"),
          col("day_value"), col("win_sum"), col("win_avg"))),
    // §2.1 row 17m — EWMA smoothing + spike flags (round 16): the
    // recency-weighted companion to moving_avg — dyadic 2^-(k+1) lag
    // weights over the same gap-filled spine (power-of-two scaling is
    // EXACT on doubles; the left-assoc term chain replays in order), the
    // start renormalized by present weights, spike = today > 4x
    // yesterday's EWMA.
    "ewma_daily" -> ((s, d) =>
      Analytics.ewmaDaily(Tables.events(s, d), col("event_type"), col("ts"),
        col("value"), 16)
        .select(col("key").as("event_type"), col("day"), col("n_events"),
          col("day_value"), col("ewma"), col("spike"))),
    // §2.2 row 27i — CCNet-style perplexity bucketing: the corpus's own
    // unigram LM score (row 27d) cut into per-language terciles by the
    // exact-NTILE operator (row 29r) — bucket 3 = highest avg_logprob =
    // lowest perplexity ("head"), bucket 1 = "tail". The composition the
    // CCNet pipeline ships as its quality-stratified sampling input.
    "ppl_buckets" -> ((s, d) => {
      // lang rides lmScore's aggregation keys (carry) — no second corpus
      // scan and no doc-keyed join to re-attach it (round 11)
      val scored = TextAnalysis.lmScore(Tables.documents(s, d), "doc_id", "text",
        carry = Seq("lang"))
      Analytics.ntileBuckets(scored, col("lang"), col("avg_logprob"),
        col("doc_id"), 3)
        .select(col("id").as("doc_id"), col("stratum").as("lang"),
          col("value").as("avg_logprob"), col("bucket").as("ppl_bucket"))
    })
  )
}
