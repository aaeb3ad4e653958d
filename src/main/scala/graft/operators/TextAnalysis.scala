package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Ckpt.CkptOps
import graft.functions.NativeExprs.ngrams

/** Text analysis for training-data pipelines: quality signals, language ID,
  * token counting, and document fingerprinting — all pure Column expressions
  * (codegen'd; no UDFs, no driver-side loops).
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Count of tokens belonging to a fixed word set. */
  def wordSetCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(_.asInstanceOf[Any]): _*)))

  // Minimal per-language stopword lists for the n-gram language heuristic.
  val EnStop = Seq("the", "a", "of", "and", "to", "in", "is")
  val FrStop = Seq("le", "la", "les", "de", "et", "un", "est")
  val DeStop = Seq("der", "die", "das", "und", "ist", "ein")
  val EsStop = Seq("el", "la", "los", "de", "y", "es", "un")

  /** Quality signals per document: char/token counts, stopword ratio,
    * punctuation count, mean token length. */
  def textQuality(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTok = size(toks)
    val nStop = wordSetCount(toks, EnStop)
    docs.select(
      col(idCol),
      length(t).as("len_chars"),
      nTok.as("n_tokens"),
      nStop.as("n_stopwords"),
      round(nStop.cast("double") / nTok.cast("double"), 6).as("stop_ratio"),
      size(regexp_extract_all(t, lit("[^A-Za-z0-9\\s]"), lit(0))).as("n_punct"),
      round(aggregate(toks, lit(0L), (acc, x) => acc + length(x)).cast("double")
        / nTok.cast("double"), 6).as("mean_token_len"))
  }

  /** Encoding-artifact detector patterns — the three mojibake classes a
    * web-crawl cleaning pass looks for (the ftfy/CCNet discipline):
    * REPLACEMENT chars mean a decoder already gave up; C1 controls
    * (U+0080-U+009F) are the signature of cp1252 bytes mislabeled as
    * Latin-1/UTF-8; and the `Ã`/`Â`/`â€` digraphs are UTF-8 bytes decoded
    * as Latin-1/cp1252 (é → Ã©, ’ → â€™, NBSP → Â ). All three are plain
    * RE2-compatible classes so both engines count identical spans. */
  val MojibakeReplRe = "�"
  val MojibakeC1Re = "[\\x80-\\x9F]"
  val MojibakeDigraphRe = "Ã.|Â.|â€."

  /** Encoding-artifact (mojibake) quality gate: per-doc counts of the
    * three artifact classes, an exact per-mille ratio, and the keep flag.
    * A corpus-cleaning pass runs this BEFORE tokenization — a document
    * full of `Ã©`/U+FFFD inflates vocabulary with garbage types and
    * poisons dedup shingles, and no downstream gate sees the problem once
    * the text is tokenized. Pure map-side regexp counting (one projection,
    * no shuffle); `bad_permille` is ONE terminal division — engine-exact
    * by the single-op rule, no rounding needed. */
  def mojibakeGate(docs: DataFrame, idCol: String, textCol: String,
                   maxPermille: Double = 2.0): DataFrame = {
    val t = col(textCol)
    def cnt(re: String) = size(regexp_extract_all(t, lit(re), lit(0)))
    docs.select(
        col(idCol),
        length(t).as("n_chars"),
        cnt(MojibakeReplRe).as("repl_cnt"),
        cnt(MojibakeC1Re).as("c1_cnt"),
        cnt(MojibakeDigraphRe).as("digraph_cnt"))
      .withColumn("bad_permille",
        when(col("n_chars") > 0,
          (col("repl_cnt") + col("c1_cnt") + col("digraph_cnt")).cast("double")
            * lit(1000.0) / col("n_chars").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("keep", col("bad_permille") <= maxPermille)
  }

  /** Unicode-script classes for [[scriptProfile]], as (name, javaRe,
    * re2Re): Java regex names scripts `\p{IsLatin}`, RE2 `\p{Latin}` —
    * same classes, different spellings, so both patterns are carried.
    * `space` is an EXPLICIT char class because the engines' `\s` differ
    * (Java includes U+000B, RE2 does not — the round-13 VT lesson). The
    * five scripts are disjoint from each other and from digits/space
    * (digits and whitespace are script=Common), so `other` is exact
    * subtraction. */
  val ScriptClasses: Seq[(String, String, String)] = Seq(
    ("latin", "\\p{IsLatin}", "\\p{Latin}"),
    ("digit", "\\p{Nd}", "\\p{Nd}"),
    ("cyrillic", "\\p{IsCyrillic}", "\\p{Cyrillic}"),
    ("han", "\\p{IsHan}", "\\p{Han}"),
    ("arabic", "\\p{IsArabic}", "\\p{Arabic}"),
    ("space", "[ \\t\\n\\r\\f]", "[ \\t\\n\\r\\f]"))

  /** Per-source Unicode-script distribution — the multilingual
    * corpus-PLANNING diagnostic (what fraction of each source is Latin /
    * CJK / Cyrillic / Arabic / digits), upstream of [[langId]]'s per-doc
    * call: language ID tells you what a document is, the script profile
    * tells you what a SOURCE is before you spend a tokenizer or a
    * mixture weight on it. Char-class counts are map-side
    * `regexp_extract_all` projections; per-source sums are exact
    * integers; `non_latin_permille` (content signal: scripts outside
    * Latin/digit/space) is ONE terminal division. Scale: one scan, one
    * source-keyed aggregate with map-side combine. */
  def scriptProfile(docs: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val perDoc = docs.select(
      (col(srcCol).as("source") +: length(t).cast("long").as("_n") +:
        ScriptClasses.map { case (n, javaRe, _) =>
          size(regexp_extract_all(t, lit(javaRe), lit(0))).cast("long").as(s"_$n")
        }): _*)
    val agg = perDoc.groupBy(col("source")).agg(
      sum(col("_n")).as("n_chars"),
      ScriptClasses.map { case (n, _, _) => sum(col(s"_$n")).as(s"${n}_cnt") }: _*)
    val nonLatin = col("n_chars") - col("latin_cnt") - col("digit_cnt") - col("space_cnt")
    agg
      .withColumn("other_cnt",
        col("n_chars") - col("latin_cnt") - col("digit_cnt") - col("cyrillic_cnt")
          - col("han_cnt") - col("arabic_cnt") - col("space_cnt"))
      .withColumn("non_latin_permille",
        when(col("n_chars") > 0,
          nonLatin.cast("double") * lit(1000.0) / col("n_chars").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Stopword-count language heuristic with a deterministic precedence chain
    * (en > fr > de > es; no hits → "und"). Emits the per-language counts so
    * the decision is auditable. */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val nEn = wordSetCount(toks, EnStop)
    val nFr = wordSetCount(toks, FrStop)
    val nDe = wordSetCount(toks, DeStop)
    val nEs = wordSetCount(toks, EsStop)
    docs.select(
      col(idCol),
      nEn.as("n_en"), nFr.as("n_fr"), nDe.as("n_de"), nEs.as("n_es"))
      .withColumn("lang_pred",
        when(col("n_en") > 0 && col("n_en") >= col("n_fr") &&
             col("n_en") >= col("n_de") && col("n_en") >= col("n_es"), "en")
        .when(col("n_fr") > 0 && col("n_fr") >= col("n_de") &&
              col("n_fr") >= col("n_es"), "fr")
        .when(col("n_de") > 0 && col("n_de") >= col("n_es"), "de")
        .when(col("n_es") > 0, "es")
        .otherwise("und"))
  }

  /** Whitespace and BPE-ish (letters | digits | single symbol) token counts. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      size(tokens(col(textCol))).as("n_ws_tokens"),
      size(regexp_extract_all(col(textCol),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).as("n_bpe_tokens"))

  /** Corpus vocabulary: token frequencies with deterministic ranking
    * (count desc, token asc). explode + groupBy — partial aggregation
    * applies; at 100 TB the shuffle key is the token. */
  def vocabulary(docs: DataFrame, textCol: String, topN: Int): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(topN) // distributed TakeOrdered
      .withColumn("rank", row_number().over( // window over topN rows only
        org.apache.spark.sql.expressions.Window.orderBy(col("n").desc, col("token"))))

  /** Exact corpus heavy hitters via a two-pass Misra-Gries sketch: tokens
    * with frequency strictly above n_total / phiDen.
    *
    * Pass 1 summarizes the token stream into a bounded sketch (one global
    * aggregate whose partial buffers hold at most `capacity` counters — the
    * only thing crossing the shuffle) plus the exact stream length; the MG
    * guarantee makes the sketch a SUPERSET of every item above
    * n/(capacity+1), so with capacity >= phiDen no true heavy hitter is
    * missed. Pass 2 re-counts ONLY the <= capacity candidate tokens (map-side
    * broadcast semi-join prunes the stream before its groupBy) and applies
    * the threshold to exact counts — the result is exact and deterministic
    * regardless of partitioning or merge order, while the full-vocabulary
    * groupBy a naive exact computation needs (billions of distinct tokens at
    * corpus scale) never runs. The threshold compares integers
    * (cnt * phiDen > n) — no float boundary. */
  def heavyHitters(docs: DataFrame, textCol: String,
                   phiDen: Int, capacity: Int): DataFrame = {
    require(capacity >= phiDen,
      s"capacity $capacity < phiDen $phiDen voids the no-miss guarantee")
    val tok = docs.select(explode(tokens(col(textCol))).as("token"))
    val sketch = tok.agg(
      graft.functions.MisraGriesAgg.misraGries(col("token"), capacity).as("_cands"),
      count(lit(1)).as("_n_total"))
    val cands = sketch.select(col("_n_total"), explode(col("_cands")).as("_c"))
      .select(col("_c.item").as("token"), col("_n_total"))
    tok.join(broadcast(cands), "token")
      .groupBy(col("token"), col("_n_total"))
      .agg(count(lit(1)).as("n_occ"))
      .where(col("n_occ") * phiDen > col("_n_total"))
      .select(col("token"), col("n_occ"),
        round(col("n_occ").cast("double") / col("_n_total"), 6).as("share"))
  }

  /** Zipf-fit corpus diagnostic: OLS of ln(freq) on ln(rank) over the
    * vocabulary's top-`topK` tokens. A natural-language corpus follows
    * Zipf's law with slope ≈ −1; template/boilerplate floods flatten the
    * head (slope → 0 over the duplicated tokens) and synthetic or
    * truncated-vocabulary text bends the tail — so (slope, r2) is the
    * one-row corpus-health gate data QA runs per ingest batch, cheap
    * enough to compute on every snapshot and trend.
    *
    * Scale: one vocabulary aggregate, a distributed TakeOrdered head
    * (never a full-vocabulary sort), rank via a window over the ≤ topK
    * post-limit rows (the vocab_top discipline), and one global fold of
    * five DECIMAL sums. Determinism: ln values round to 6dp into
    * DECIMAL(18,6) so every Σ is exact; the OLS closed forms then run in
    * doubles with IDENTICAL parenthesization in both engines (each step
    * one correctly-rounded op). A degenerate vocabulary (< 2 distinct
    * tokens) has no rank structure to fit — the variance denominators are
    * 0 and the fit is undefined (IEEE NaN/Inf), which IS the honest
    * answer for such a corpus. Output: one row
    * (n_ranks, slope, intercept, r2). */
  // ln values rounded to 6dp DECIMAL — makes the five OLS sums exact
  private def zipfX: Column =
    round(log(col("rank").cast("double")), 6).cast("decimal(18,6)")
  private def zipfY: Column =
    round(log(col("n").cast("double")), 6).cast("decimal(18,6)")

  private def olsSums(xy: DataFrame, keys: Seq[String]): DataFrame =
    xy.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_ranks"),
        sum(col("_x")).cast("double").as("_sx"),
        sum(col("_y")).cast("double").as("_sy"),
        sum(col("_x") * col("_y")).cast("double").as("_sxy"),
        sum(col("_x") * col("_x")).cast("double").as("_sxx"),
        sum(col("_y") * col("_y")).cast("double").as("_syy"))

  /** OLS closed forms over [[olsSums]]' exact sums — every double step one
    * correctly-rounded op in a FIXED parenthesization (the SQL replay
    * mirrors it verbatim). */
  private def olsFit(sums: DataFrame, keys: Seq[String]): DataFrame = {
    val n = col("n_ranks").cast("double")
    val num = n * col("_sxy") - col("_sx") * col("_sy")
    val dx = n * col("_sxx") - col("_sx") * col("_sx")
    val dy = n * col("_syy") - col("_sy") * col("_sy")
    val slope = round(num / dx, 6)
    sums.select(keys.map(col) ++ Seq(col("n_ranks"),
      slope.as("slope"),
      round((col("_sy") - slope * col("_sx")) / n, 6).as("intercept"),
      round((num * num) / (dx * dy), 6).as("r2")): _*)
  }

  /** Heaps'-law fit (Heaps 1978): V = K·nᵝ — vocabulary size as a power
    * of corpus size — fitted in log-log space over the per-source
    * (n_tokens, n_vocab) points, the vocabulary-GROWTH companion to
    * [[zipfFit]]'s frequency-decay diagnostic (the two laws are duals:
    * β ≈ 1/zipf-slope-magnitude for a zipfian corpus). Deviations flag
    * corpus pathologies the Zipf head can miss — a source whose vocab
    * grows too slowly is templated/repetitive; too fast is noisy (OCR
    * junk, random ids). Same exactness discipline as zipfFit: 6dp-rounded
    * ln points into exact DECIMAL sums, [[olsFit]]'s fixed
    * parenthesization. Scale: one corpus pass to (source, token) counts,
    * a |sources|-row point table, a 1-row fit. Output: one row
    * (n_sources, beta, log_k, r2). */
  def heapsLaw(docs: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val pts = docs
      .select(col(srcCol).as("_src"), explode(tokens(col(textCol))).as("_t"))
      .where(col("_t") =!= "")
      .groupBy(col("_src"), col("_t")).agg(count(lit(1)).as("_c"))
      .groupBy(col("_src"))
      .agg(sum(col("_c")).as("n_tokens"), count(lit(1)).as("n_vocab"))
    val xy = pts.select(
      round(log(col("n_tokens").cast("double")), 6).cast("decimal(18,6)").as("_x"),
      round(log(col("n_vocab").cast("double")), 6).cast("decimal(18,6)").as("_y"))
    // DEGENERATE-VARIANCE guard (unlike the Zipf head, both axes here can
    // collapse: a saturated vocabulary makes every y identical, so the
    // variance denominators are EXACTLY 0 — ANSI Spark throws on the
    // division where DuckDB reads NULL): try_divide gives NULL on both
    // sides, the honest "no growth to fit" answer. Can't reuse olsFit —
    // its plain divisions are safe only where a denominator can't vanish
    // (the Zipf head's ranks are distinct by construction).
    val s = olsSums(xy, Nil)
    val n = col("n_ranks").cast("double")
    val num = n * col("_sxy") - col("_sx") * col("_sy")
    val dx = n * col("_sxx") - col("_sx") * col("_sx")
    val dy = n * col("_syy") - col("_sy") * col("_sy")
    val beta = round(try_divide(num, dx), 6)
    s.select(col("n_ranks").as("n_sources"),
      beta.as("beta"),
      round(try_divide(col("_sy") - beta * col("_sx"), n), 6).as("log_k"),
      round(try_divide(num * num, dx * dy), 6).as("r2"))
  }

  def zipfFit(docs: DataFrame, textCol: String, topK: Int = 1000): DataFrame = {
    require(topK >= 3, s"zipfFit needs topK >= 3; got $topK")
    val head = docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(topK) // TakeOrdered head
      .withColumn("rank", row_number().over( // window over <= topK rows
        org.apache.spark.sql.expressions.Window.orderBy(col("n").desc, col("token"))))
    olsFit(olsSums(head.select(zipfX.as("_x"), zipfY.as("_y")), Nil), Nil)
  }

  /** Theil–Sen robust fit of the Zipf log-log head — the
    * median-of-pairwise-slopes estimator (Theil 1950, Sen 1968; 29.3%
    * breakdown point) beside [[zipfFit]]'s OLS: one corrupted head
    * frequency (a boilerplate token, a tokenizer artifact) drags the OLS
    * slope arbitrarily but moves the slope MEDIAN barely at all — the
    * [[graft.operators.Analytics.madOutliers]] robustness discipline
    * applied to the corpus diagnostic (spec demonstrates the contrast on
    * a planted corruption).
    *
    * Exactness: x/y are the 6dp-rounded log points both engines share;
    * each pairwise slope is two subtractions and one division of
    * identical doubles (correctly rounded each ⇒ identical), the median
    * is the LOWER-MEDIAN convention over (slope, rank_a, rank_b) — an
    * actual slope value, no interpolation — and the intercept is the
    * lower median of residuals against the ROUNDED slope (the zipfFit
    * re-derive-the-rounded-slope precedent). Equal-x pairs (possible
    * only when adjacent log-ranks collide at 6dp, i.e. heads beyond
    * ~500k ranks) carry no slope information and drop, standard TS.
    *
    * Scale: everything pairwise happens AFTER the TakeOrdered head —
    * ≤ topK(topK−1)/2 bounded rows; the two median rank windows are
    * unpartitioned but run on those post-limit frames (budget-audited),
    * never the corpus. Output: one row
    * (n_points, n_pairs, slope, intercept). */
  def zipfTheilSen(docs: DataFrame, textCol: String, topK: Int = 1000): DataFrame = {
    require(topK >= 3, s"zipfTheilSen needs topK >= 3; got $topK")
    val head = docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(topK) // TakeOrdered head
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("n").desc, col("token"))))
    val pts = head.select(col("rank"),
      round(log(col("rank").cast("double")), 6).as("_x"),
      round(log(col("n").cast("double")), 6).as("_y"))
    val pairs = pts.select(col("rank").as("_ra"), col("_x").as("_xa"), col("_y").as("_ya"))
      .join(broadcast(pts.select(col("rank").as("_rb"), col("_x").as("_xb"), col("_y").as("_yb"))),
        col("_ra") < col("_rb") && col("_xa") =!= col("_xb")) // bounded head² pairwise
      .select(col("_ra"), col("_rb"),
        ((col("_yb") - col("_ya")) / (col("_xb") - col("_xa"))).as("_s"))
    // lower-median rank over the bounded post-limit pair frame
    val wS = org.apache.spark.sql.expressions.Window
      .orderBy(col("_s"), col("_ra"), col("_rb"))
    val slopeRow = pairs
      .select(col("_s"), row_number().over(wS).as("_rn"),
        count(lit(1)).over(wS.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)).as("_npairs"))
      .where(col("_rn") === expr("(_npairs + 1) div 2"))
      .select(round(col("_s"), 6).as("_slope"), col("_npairs"))
    val resid = pts.crossJoin(broadcast(slopeRow)) // audited 1-row stats join
      .select(col("_slope"), col("_npairs"), col("rank"),
        (col("_y") - col("_slope") * col("_x")).as("_r"))
    val wR = org.apache.spark.sql.expressions.Window
      .orderBy(col("_r"), col("rank"))
    resid
      .select(col("_slope"), col("_npairs"), col("_r"),
        row_number().over(wR).as("_rn"),
        count(lit(1)).over(wR.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)).as("_np"))
      .where(col("_rn") === expr("(_np + 1) div 2"))
      .select(col("_np").as("n_points"), col("_npairs").as("n_pairs"),
        col("_slope").as("slope"), round(col("_r"), 6).as("intercept"))
  }

  /** Per-source [[zipfFit]] — the form a corpus monitor actually runs:
    * one (slope, r2) row PER SOURCE, so a boilerplate-flooded or
    * synthetic source reads non-Zipfian next to its healthy peers
    * instead of being averaged away in the global fit. The per-source
    * head ranks inside a source-PARTITIONED window over the
    * vocabulary-sized (source, token) frame; everything downstream is
    * |sources|-rows. Same exact-sum/fixed-parenthesization determinism
    * as the global fit. Output: (source, n_ranks, slope, intercept, r2). */
  def zipfFitBySource(docs: DataFrame, srcCol: String, textCol: String,
                      topK: Int = 1000): DataFrame = {
    require(topK >= 3, s"zipfFitBySource needs topK >= 3; got $topK")
    val vocab = docs
      .select(col(srcCol).as("source"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n").desc, col("token"))
    val head = vocab.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
    olsFit(olsSums(head.select(col("source"), zipfX.as("_x"), zipfY.as("_y")),
      Seq("source")), Seq("source"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; Chen &
    * Goodman 1998's benchmark winner — the smoothing KenLM/CCNet-class
    * corpus LMs actually use): P(w|v) = (c(vw) − D)/c(v) +
    * D·N1+(v,·)/c(v) · N1+(·,w)/N1+(··). The continuation probability
    * scores a word by how many DISTINCT contexts it follows, not raw
    * frequency — the "San Francisco" correction: 'Francisco' is frequent
    * but predictable, so plain MLE ([[lmBigram]]) overrates docs that
    * lean on frozen collocations; KN is the perplexity signal that
    * doesn't. Only observed bigrams are scored (every doc bigram is in
    * the corpus by construction), so with D < 1 every probability is
    * strictly positive with no backoff branch.
    *
    * Scale: the same two shuffles as [[lmBigram]] (per-doc tf, bigram
    * vocabulary agg); the three KN statistics are TWO partitioned windows
    * over the VOCABULARY-sized type table (context totals + fan-out on the
    * w1 partitioning, the backward type count on the w2 partitioning —
    * r20: zero stat joins, so no per-run AQE broadcast-build jobs) plus
    * the checkpointed type table's row count inlined as a literal.
    * Determinism: D = 0.75 is dyadic, the
    * probability expression is parenthesized IDENTICALLY in both engines
    * (every step one correctly-rounded op), per-bigram log-probs round
    * to 6dp into DECIMAL(18,6) so the per-doc weighted sum is exact, and
    * the terminal sum / count division stays UNROUNDED (a 6dp round of it
    * can land on a half boundary where the two engines' round() split).
    * Output: (id, n_bigrams, avg_logprob_kn). */
  def lmKneserNey(docs: DataFrame, idCol: String, textCol: String,
                  discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"Kneser-Ney discount must be in (0,1); got $discount")
    // per-doc tf is consumed twice (type agg + final scoring join):
    // localCheckpoint runs the corpus explode+agg pass once.
    val tf = docs.select(col(idCol).as("_id"),
        explode(ngrams(tokens(col(textCol)), 2)).as("bigram"))
      .groupBy(col("_id"), col("bigram")).agg(count(lit(1)).as("tf"))
      .ckptLocal()
    // localCheckpoint: the type table feeds the context window, the
    // backward-fan aggregation, AND the 1-row type-count broadcast — the
    // broadcast/stat builds replay a checkpoint scan, not the corpus agg
    // (the r17 AQE broadcast-build lesson).
    val types = tf.groupBy(col("bigram")).agg(sum(col("tf")).as("cnt_bi"))
      .withColumn("_w2", split(col("bigram"), " ").getItem(1))
      .ckptLocal()
    val wCtx = org.apache.spark.sql.expressions.Window
      .partitionBy(split(col("bigram"), " ").getItem(0))
    // N1+(·w) = type count per second word — a _w2-partitioned window over
    // the SAME type table (r20: replaces the grouped-count-joined-back shape,
    // whose AQE broadcast build was a separate scheduled job per run, with
    // one exchange and ZERO joins — identical integers). N1+(··) is the
    // checkpointed type table's row count, inlined as a literal (the count
    // reads materialized blocks — metadata-cheap) instead of a 1-row
    // aggregate riding a broadcast crossJoin build.
    val w2w = org.apache.spark.sql.expressions.Window.partitionBy(col("_w2"))
    val nTypes = types.count()
    val probs = types
      .withColumn("cnt_ctx", sum(col("cnt_bi")).over(wCtx))
      .withColumn("n1_fwd", count(lit(1)).over(wCtx))
      .withColumn("n1_back", count(lit(1)).over(w2w))
      .select(col("bigram"), round(log(
        (col("cnt_bi") - lit(discount)) / col("cnt_ctx") +
          lit(discount) * col("n1_fwd") / col("cnt_ctx") *
            (col("n1_back").cast("double") / lit(nTypes))), 6)
        .cast("decimal(18,6)").as("_lp"))
    tf.join(probs, "bigram")
      .groupBy(col("_id"))
      .agg(sum(col("tf")).as("n_bigrams"), sum(col("tf") * col("_lp")).as("_sum_lp"))
      .select(col("_id").as(idCol), col("n_bigrams"),
        (col("_sum_lp").cast("double") / col("n_bigrams")).as("avg_logprob_kn"))
  }

  /** Interpolated Kneser–Ney TRIGRAM scoring — [[lmKneserNey]] one model
    * order up (Chen & Goodman 1999's interpolated form with continuation
    * counts at every lower order):
    * P(w3|w1w2) = (c(w1w2w3)−D)/c(w1w2) + D·N1+(w1w2·)/c(w1w2) · P(w3|w2),
    * where the MIDDLE order runs on continuation counts —
    * P(w3|w2) = (N1+(·w2w3)−D)/N1+(·w2·) + D·N1+(w2·)/N1+(·w2·) · P(w3)
    * with N1+(w2·) = distinct continuations of w2 among observed
    * (w2,w3) pairs — and the base P(w3) = N1+(·w3)/N1+(··) over the same
    * distinct-pair table. Only observed trigrams are scored (every doc
    * trigram is in the corpus by construction), so with D < 1 every term
    * is strictly positive: c ≥ 1 and N1+(·w2w3) ≥ 1 beat the discount,
    * no max(·,0) branch anywhere.
    *
    * Scale: the same two corpus shuffles as [[lmBigram]]/[[lmKneserNey]]
    * (per-doc tf, trigram vocabulary agg); the five KN statistics are ONE
    * partitioned window over the VOCABULARY-sized type table ((w1,w2)
    * totals+fan-out) plus ONE (w2,w3) aggregation of it — n1_mid directly,
    * windowed per w2 for N1+(·w2·)/N1+(w2·) and per w3 for N1+(·w3) (r20:
    * windows on the checkpointed pair table replace grouped-count
    * join-backs and their per-run AQE broadcast-build jobs — identical
    * integers), its row count inlined as a literal.
    * Determinism: the [[lmKneserNey]] oracle contract verbatim — D = 0.75
    * dyadic, every step one correctly-rounded op with IDENTICAL
    * parenthesization in both engines, per-trigram log-probs rounded 6dp
    * into DECIMAL(18,6) so per-doc weighted sums are exact, terminal
    * division unrounded.
    * Output: (idCol, n_trigrams, avg_logprob_kn3); docs with < 3 tokens
    * have no trigram and vanish. */
  def lmKneserNeyTrigram(docs: DataFrame, idCol: String, textCol: String,
                         discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"Kneser-Ney discount must be in (0,1); got $discount")
    // The per-doc tf table is consumed twice (type aggregation + the final
    // per-doc scoring join): localCheckpoint runs the corpus explode+agg
    // pass once.
    val tf = docs.select(col(idCol).as("_id"),
        explode(ngrams(tokens(col(textCol)), 3)).as("trigram"))
      .groupBy(col("_id"), col("trigram")).agg(count(lit(1)).as("tf"))
      .ckptLocal()
    // The type table feeds the (w1,w2)-context window AND every
    // continuation statistic: localCheckpoint materializes it once, so the
    // small-stats broadcast builds replay a checkpoint scan instead of the
    // whole corpus aggregation (the r17 AQE broadcast-build lesson).
    val types = tf.groupBy(col("trigram")).agg(sum(col("tf")).as("cnt_tri"))
      .withColumn("_w1", split(col("trigram"), " ").getItem(0))
      .withColumn("_w2", split(col("trigram"), " ").getItem(1))
      .withColumn("_w3", split(col("trigram"), " ").getItem(2))
      .ckptLocal()
    val wCtx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_w1"), col("_w2"))
    // All four continuation counts derive from ONE (w2,w3) aggregation of
    // the type table (r19): n1_mid = types per (w2,w3). r20: the per-w2 and
    // per-w3 statistics are now WINDOWS over that checkpointed pair table
    // (sum/count over a _w2 partition, count over a _w3 partition) instead
    // of two grouped aggregates joined back — each of those joins was an
    // AQE broadcast build scheduled as its own job per run (the dominant
    // residual cost: 14 small one-task jobs, VERDICT r19 #3); the windows
    // ride two pair-table exchanges inside the main query. N1+(··) is the
    // checkpointed pair table's row count inlined as a literal. Identical
    // integers everywhere, so the probability expression is bit-unchanged.
    val g23 = types.groupBy(col("_w2"), col("_w3"))
      .agg(count(lit(1)).as("n1_mid")).ckptLocal()
    val w2w = org.apache.spark.sql.expressions.Window.partitionBy(col("_w2"))
    val w3w = org.apache.spark.sql.expressions.Window.partitionBy(col("_w3"))
    val nPairs = g23.count()
    val pairStats = g23
      .withColumn("n1_dot2dot", sum(col("n1_mid")).over(w2w))
      .withColumn("n1_w2dot", count(lit(1)).over(w2w))
      .withColumn("n1_back", count(lit(1)).over(w3w))
    val d = lit(discount)
    val probs = types
      .withColumn("cnt_ctx", sum(col("cnt_tri")).over(wCtx))
      .withColumn("n1_fwd", count(lit(1)).over(wCtx))
      .join(pairStats, Seq("_w2", "_w3"))
      .select(col("trigram"), round(log(
        (col("cnt_tri") - d) / col("cnt_ctx") +
          d * col("n1_fwd") / col("cnt_ctx") *
            ((col("n1_mid") - d) / col("n1_dot2dot") +
              d * col("n1_w2dot") / col("n1_dot2dot") *
                (col("n1_back").cast("double") / lit(nPairs)))), 6)
        .cast("decimal(18,6)").as("_lp"))
    tf.join(probs, "trigram")
      .groupBy(col("_id"))
      .agg(sum(col("tf")).as("n_trigrams"), sum(col("tf") * col("_lp")).as("_sum_lp"))
      .select(col("_id").as(idCol), col("n_trigrams"),
        (col("_sum_lp").cast("double") / col("n_trigrams")).as("avg_logprob_kn3"))
  }

  /** Count-Min Sketch token-frequency estimation (Cormode–Muthukrishnan) —
    * the bounded-memory point-query sketch next to [[heavyHitters]]'
    * Misra-Gries (exact top set) and HLL (distinct count): `depth` salted
    * md5 hash rows × `width` buckets, each cell the count of tokens
    * hashing to it; a token's estimate is the MIN over its `depth` cells,
    * which can only OVERCOUNT (collisions add, never subtract) — the
    * one-sided error bound is what makes CMS composable under union and
    * safe for keep/drop thresholds at corpus scale, where the exact
    * vocabulary groupBy (billions of distinct tokens) can't run.
    *
    * The sketch is ONE corpus pass: map-side combine collapses every
    * partition to <= depth×width cells before the (row, bucket)-keyed
    * exchange, so shuffle volume is sketch-sized regardless of corpus
    * size, and sketches from separate corpora/days merge by cell-wise sum.
    * The probe side here re-counts the exact top-`topN` tokens purely as
    * the verification surface (production probes arbitrary keys against
    * the sketch without any exact pass). The md5 bucket derivation is the
    * hashed-classifier convention, replayable in SQL.
    * Output: (token, exact_n, cms_n, overcount), cms_n >= exact_n always. */
  private def cmsBucket(r: Int, width: Int, t: Column): Column =
    conv(substring(md5(concat(lit(s"cms$r:"), t)), 1, 8), 16, 10)
      .cast("long") % width

  /** The bare CMS cell table of [[cmsCounts]] — (row, bucket, cell count),
    * <= depth×width rows. Exposed because the sketch's MERGE LAW is
    * cell-wise sum: `cmsSketch(A ∪ B)` is row-identical to summing
    * `cmsSketch(A)` and `cmsSketch(B)` cell by cell (counts are sums —
    * no approximation enters at merge time), which is what lets per-day /
    * per-shard sketches roll up without touching the token streams again.
    * Spec-pinned exactly (CmsMergeLaw in TextIngestMultimodalSpec). */
  def cmsSketch(docs: DataFrame, textCol: String, depth: Int = 4,
                width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 2,
      s"cmsSketch needs depth >= 1, width >= 2; got d=$depth w=$width")
    docs.select(explode(tokens(col(textCol))).as("token"))
      .select(posexplode(array((0 until depth)
        .map(r => cmsBucket(r, width, col("token"))): _*)).as(Seq("_r", "_b")))
      .groupBy(col("_r"), col("_b")).agg(count(lit(1)).as("_cell"))
  }

  def cmsCounts(docs: DataFrame, textCol: String, depth: Int = 4,
                width: Int = 1024, topN: Int = 30): DataFrame = {
    require(depth >= 1 && width >= 2 && topN >= 1,
      s"cmsCounts needs depth >= 1, width >= 2, topN >= 1; got d=$depth w=$width topN=$topN")
    val tok = docs.select(explode(tokens(col(textCol))).as("token"))
    def bucket(r: Int, t: Column): Column = cmsBucket(r, width, t)
    def rowBuckets(t: Column): Column =
      array((0 until depth).map(r => bucket(r, t)): _*)
    val sketch = cmsSketch(docs, textCol, depth, width)
    val probes = tok.groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("token")).limit(topN) // TakeOrdered
      .select(col("token"), col("exact_n"),
        posexplode(rowBuckets(col("token"))).as(Seq("_r", "_b")))
    probes.join(broadcast(sketch), Seq("_r", "_b"))
      .groupBy(col("token"), col("exact_n"))
      .agg(min(col("_cell")).as("cms_n"))
      .select(col("token"), col("exact_n"), col("cms_n"),
        (col("cms_n") - col("exact_n")).as("overcount"))
  }

  /** HyperLogLog register table (Flajolet et al. 2007) over the corpus's
    * token stream — the CARDINALITY sketch beside [[cmsSketch]]'s frequency
    * sketch: 256 one-byte registers estimate the vocabulary size of any
    * corpus in fixed state, where an exact `distinct` shuffles the whole
    * vocabulary. Register j keeps the max over its tokens of
    * ρ = 1 + leading-zeros of a 32-bit hash word — here derived from md5
    * (bucket = first 2 hex digits, word = next 8), so every register is an
    * exact integer both engines reproduce: `bin()` is unpadded in Spark
    * and DuckDB alike, making ρ = 33 − len(bin(w)) (33 for w = 0) a pure
    * string-length computation — the first ORACLED cardinality sketch here
    * (approx_count_distinct's HLL++ internals are not replayable; that row
    * stays as the built-in tier).
    *
    * Scale: no distinct anywhere — max is idempotent, so the groupBy
    * partial-aggregates map-side and at most 256 rows per task cross the
    * shuffle regardless of corpus size; the MERGE LAW is register-wise max
    * (spec-pinned), so per-shard sketches roll up like [[cmsSketch]] cells.
    * Output: (bucket, r), ≤ 256 rows, absent buckets = empty. */
  def hllRegisters(docs: DataFrame, textCol: String): DataFrame =
    hllRegistersBy(docs, Nil, textCol)

  /** Grouped register tables — one ≤ 256-row sketch per group key (the
    * per-domain/per-source vocabulary-richness monitor); `hllRegisters`
    * is the Nil-group case. State is |groups|·256 rows — a dimension-
    * sized aggregate at any corpus size. */
  def hllRegistersBy(docs: DataFrame, groupCols: Seq[String],
                     textCol: String): DataFrame = {
    val g = groupCols.map(col)
    docs.select(g :+ explode(tokens(col(textCol))).as("t"): _*)
      .select(g :+ md5(col("t")).as("h"): _*)
      .select(g ++ Seq(
        conv(substring(col("h"), 1, 2), 16, 10).cast("int").as("bucket"),
        conv(substring(col("h"), 3, 8), 16, 10).cast("long").as("_w")): _*)
      .select(g ++ Seq(col("bucket"),
        when(col("_w") === 0L, lit(33))
          .otherwise(lit(33) - length(bin(col("_w")))).as("rho")): _*)
      .groupBy(g :+ col("bucket"): _*).agg(max(col("rho")).cast("int").as("r"))
  }

  /** The HLL cardinality estimate from [[hllRegisters]] — raw estimator
    * α·m²/Σ2^(−M_j) (empty registers contribute 2⁰) with the standard
    * small-range linear-counting correction (m·ln(m/V) when raw ≤ 2.5m and
    * V empty registers remain). Engine-exact by construction: every
    * 2^(−M_j) is a dyadic double, the 256-term sum spans 41 bits of
    * exponent (< 53) so it is EXACT regardless of order, and the remaining
    * chain is identically-parenthesized single ops rounded once at 4dp.
    * Output: one row (m, n_buckets, n_zero, raw_est, est). */
  def hllEstimate(docs: DataFrame, textCol: String): DataFrame =
    hllEstimateBy(docs, Nil, textCol)

  /** Per-group estimates from [[hllRegistersBy]] — one row per group:
    * (groupCols..., m, n_buckets, n_zero, raw_est, est). */
  def hllEstimateBy(docs: DataFrame, groupCols: Seq[String],
                    textCol: String): DataFrame = {
    val m = 256
    val g = groupCols.map(col)
    val agg0 = hllRegistersBy(docs, groupCols, textCol)
    val agged =
      if (groupCols.isEmpty)
        agg0.agg(count(lit(1)).as("_nb"),
          sum(pow(lit(2.0), -col("r").cast("double"))).as("_s"))
      else
        agg0.groupBy(g: _*).agg(count(lit(1)).as("_nb"),
          sum(pow(lit(2.0), -col("r").cast("double"))).as("_s"))
    agged
      .select(g ++ Seq(lit(m).as("m"), col("_nb").cast("int").as("n_buckets"),
        (lit(m) - col("_nb")).cast("int").as("n_zero"),
        ((lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))) * lit(65536.0) /
          (col("_s") + (lit(m) - col("_nb")).cast("double"))).as("_raw")): _*)
      .select(g ++ Seq(col("m"), col("n_buckets"), col("n_zero"),
        round(col("_raw"), 4).as("raw_est"),
        round(when(col("_raw") <= lit(640.0) && col("n_zero") > 0,
          lit(256.0) * log(lit(256.0) / col("n_zero").cast("double")))
          .otherwise(col("_raw")), 4).as("est")): _*)
  }

  /** HLL sketch ALGEBRA over sources — the set-operation layer on
    * [[hllRegistersBy]]: a pair's UNION cardinality comes free from the
    * max merge law (union registers ARE the union's sketch, exactly —
    * spec-pinned), and INTERSECTION follows by inclusion–exclusion
    * (est_a + est_b − est_union, the standard HLL intersection estimator;
    * error grows as the true intersection shrinks relative to the union —
    * a documented property of the estimator, not of this implementation).
    * The cross-source vocabulary-overlap monitor that needs only
    * |sources|·256 rows of state where [[graft.operators.Dedup.sourceOverlap]]
    * joins full vocabularies and its bottom-k sketch keeps k hashes.
    *
    * Scale: per-source registers densify to 256-slot vectors (one
    * dimension-sized aggregate), every pair is array arithmetic on two
    * 256-int vectors inside a broadcast self-join — the
    * sourceOverlapSketch pairwise discipline. Engine-exact: the 2^−r
    * folds are dyadic sums (order-free exact), the estimate chain is the
    * [[hllEstimate]] parenthesization, and est_intersect is one
    * subtraction of already-rounded estimates.
    * Output: (source_a, source_b, est_a, est_b, est_union,
    * est_intersect), all 4dp. */
  def hllSetOps(docs: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val m = 256
    val dense = hllRegistersBy(docs, Seq(srcCol), textCol)
      .groupBy(col(srcCol).as("source"))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("r")))).as("_m"))
      .select(col("source"),
        transform(sequence(lit(0), lit(m - 1)),
          b => coalesce(element_at(col("_m"), b), lit(0))).as("_regs"))
    def est(arr: Column): Column = {
      val s = aggregate(arr, lit(0.0),
        (acc, r) => acc + pow(lit(2.0), -r.cast("double")))
      val nz = size(filter(arr, r => r === 0))
      val raw = (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))) *
        lit(65536.0) / s
      round(when(raw <= lit(640.0) && nz > 0,
        lit(256.0) * log(lit(256.0) / nz.cast("double"))).otherwise(raw), 4)
    }
    dense.select(col("source").as("source_a"), col("_regs").as("_ra"))
      .join(broadcast(dense.select(col("source").as("source_b"), col("_regs").as("_rb"))),
        col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        est(col("_ra")).as("est_a"), est(col("_rb")).as("est_b"),
        est(zip_with(col("_ra"), col("_rb"), (x, y) => greatest(x, y))).as("est_union"))
      .withColumn("est_intersect",
        round(col("est_a") + col("est_b") - col("est_union"), 4))
  }

  /** Winnowing-style fingerprint: the minimum md5 over the document's word
    * n-gram shingles. Identical token streams ⇒ identical fingerprints. */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    docs.select(
      col(idCol),
      array_min(transform(Dedup.shingles(col(textCol), n),
        s => md5(s.cast("binary")))).as("fingerprint"))

  // PII patterns kept RE2-compatible (no backrefs/lookarounds) so the same
  // regex runs identically in Spark's Java regex and DuckDB's RE2.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9()\\[\\]. -]{6,}[0-9]"
  val Ipv4Re  = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII redaction — the scrub every training-data pipeline runs before a
    * corpus ships: emails, phone-like digit runs, and IPv4 literals replaced
    * with typed placeholders. Pure codegen'd `regexp_replace` chain; order
    * matters (emails first so their digits don't half-match as phones). */
  def piiScrub(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailRe, "[EMAIL]")
    val noIp = regexp_replace(noEmail, Ipv4Re, "[IP]")
    regexp_replace(noIp, PhoneRe, "[PHONE]")
  }

  /** Card-number candidate: 13-19 digits, optionally single-space/dash
    * separated (the PAN formats card networks issue). RE2-compatible — no
    * lookarounds — so both engines extract IDENTICAL candidate spans:
    * left-to-right greedy non-overlapping scans agree, and a >19-digit
    * run yields one 19-digit candidate that the checksum then rejects
    * (boundary lookarounds would need backrefs RE2 lacks). */
  val CardRe = "[0-9](?:[ -]?[0-9]){12,18}"

  /** Luhn mod-10 digit sum (ISO/IEC 7812; Luhn 1960, US patent 2,950,048):
    * from the RIGHT, every second digit doubles (minus 9 past 9) before
    * the sum. Pure HOF arithmetic over `sequence(1, len)` — codegen'd, no
    * UDF, and each step is integer-exact on any engine. */
  private def luhnSum(digits: Column): Column =
    aggregate(sequence(lit(1), length(digits)), lit(0), (acc, i) => {
      val dig = ascii(digits.substr(i, lit(1))) - lit(48)
      val dbl = dig * lit(2)
      acc + when(((length(digits) - i) % 2) === 1,
        when(dbl > 9, dbl - 9).otherwise(dbl)).otherwise(dig)
    })

  /** True iff `digits` is a Luhn-VALID 13-19 digit PAN. */
  private def luhnValid(digits: Column): Column =
    length(digits).between(13, 19) && (luhnSum(digits) % 10 === 0)

  /** Checksum-validated card-number detection — the PII tier a regex
    * alone cannot express (the Presidio-class discipline): a 16-digit
    * order id and a real PAN look identical to [[CardRe]]; only the Luhn
    * mod-10 check separates them, so scrubbing on the regex alone
    * mangles ids while skipping the check leaks cards. One row per
    * candidate span with its digits and verdict — the audit grain a
    * compliance review wants BEFORE committing to a scrub. Map-side only:
    * extract + explode + integer HOF per candidate, no shuffle. */
  def luhnCandidates(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        explode(regexp_extract_all(col(textCol), lit(CardRe), lit(0))).as("candidate"))
      .withColumn("digits", regexp_replace(col("candidate"), "[ -]", ""))
      .withColumn("valid", luhnValid(col("digits")))

  /** The scrub itself: replace only the Luhn-VALID candidates with
    * `[CARD]` (invalid digit runs — ids, timestamps — survive). Fold of
    * anchored `regexp_replace` over the filtered candidate list, all
    * codegen'd HOFs. Anchoring matters (ADVICE r17): a raw substring
    * replace would mangle a LONGER non-candidate digit run elsewhere in
    * the same document that merely starts with the valid PAN's digits
    * (e.g. a 17-digit order id), so each candidate is bounded by
    * non-digit/non-separator context — it only matches where
    * [[CardRe]] itself delimited it. Candidates contain only digits,
    * spaces and hyphens, so they are regex-literal-safe unquoted. */
  def piiScrubCards(text: Column): Column =
    aggregate(
      filter(regexp_extract_all(text, lit(CardRe), lit(0)),
        c => luhnValid(regexp_replace(c, "[ -]", ""))),
      text,
      (acc, c) => regexp_replace(acc,
        concat(lit("(?<![0-9][ -]?)"), c, lit("(?![ -]?[0-9])")),
        lit("[CARD]")))

  /** Weighted mixture sampling — the corpus-assembly primitive: keep each
    * document with its stratum's probability (e.g. upsample English, damp a
    * crawl-heavy source), deterministically. A doc is kept iff the first 8
    * hex chars of md5(id) compare lexicographically below the stratum's
    * threshold string (floor(weight * 2^32) as 8-hex; weight >= 1 becomes
    * "g", which is above every hex digit, so everything keeps). Pure
    * map-side Column exprs any engine reproduces — no RNG, no shuffle,
    * stable under retry, and the SAME doc is kept at every scale. */
  def sampleWeighted(docs: DataFrame, stratumCol: String, idCol: String,
                     weights: Map[String, Double],
                     defaultWeight: Double = 1.0): DataFrame = {
    def thr(w: Double): String =
      if (w >= 1.0) "g"
      else f"${math.max((w * 4294967296.0).toLong, 0L)}%08x"
    val thrCol = weights.toSeq.sortBy(_._1).foldLeft(lit(thr(defaultWeight))) {
      case (acc, (k, w)) => when(col(stratumCol) === k, lit(thr(w))).otherwise(acc)
    }
    docs.where(substring(md5(col(idCol).cast("string").cast("binary")), 1, 8) < thrCol)
  }

  /** Deterministic stratified sample: `k` documents per stratum, selected by
    * md5-of-id order — a uniform pseudo-random draw that any engine can
    * reproduce (the mixture-weighting primitive for corpus assembly).
    * Partitioned window; at scale each stratum ranks independently. */
  def sampleStratified(docs: DataFrame, stratumCol: String, idCol: String,
                       k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    docs.withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= k)
      .drop("_rk")
  }

  /** Deterministic stratified train/val/test split assignment — the
    * holdout-creation step of corpus assembly: within each stratum, docs
    * rank by md5-of-id order (the [[sampleStratified]] draw) and the rank
    * range assigns the split, so every stratum contributes EXACTLY its
    * `fractions` share to each split (ratios exact by construction, not in
    * expectation), splits are disjoint and exhaustive, and the assignment
    * is engine-reproducible with no RNG. Rank-cut vs hash-threshold is a
    * contract choice: [[sampleWeighted]]'s thresholds keep a doc's
    * membership stable when the corpus grows; the rank cut here trades
    * that for exact per-stratum counts (the eval-split requirement —
    * a 5% holdout should BE 5%).
    *
    * Scale: ONE stratum-keyed exchange; both windows (rank + stratum
    * count) share it. `fractions` must sum to 1; the last split absorbs
    * the floor remainders. Output: docs' (idCol, stratumCol) + split. */
  def splitAssign(docs: DataFrame, stratumCol: String, idCol: String,
                  fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.size >= 2 && fractions.forall(_._2 > 0) &&
      math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must be >= 2 positive shares summing to 1: $fractions")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    val cw = org.apache.spark.sql.expressions.Window.partitionBy(col(stratumCol))
    // Accumulate boundaries in DECIMAL so the cut literal equals the
    // decimal the caller wrote (0.9 + 0.05 in doubles is 0.9500000000000001,
    // NOT the 0.95 a SQL replay would state — floor(c*n) could then differ
    // exactly when c*n lands on an integer).
    val cums = fractions.init
      .scanLeft(BigDecimal(0))((acc, f) => acc + BigDecimal.valueOf(f._2))
      .tail.map(_.toDouble)
    val assign = fractions.init.zip(cums).foldRight(
        lit(fractions.last._1): Column) { case (((label, _), c), rest) =>
      when(col("_rn") <= floor(lit(c) * col("_n")), label).otherwise(rest)
    }
    docs.select(col(idCol), col(stratumCol))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(cw))
      .select(col(idCol), col(stratumCol), assign.as("split"))
  }

  /** Priority sampling (Duffield–Lund–Thorup, JACM 2007) — weight-
    * proportional sampling WITHOUT replacement with an UNBIASED subset-sum
    * estimator, the missing complement of [[sampleWeighted]] (independent
    * Bernoulli keeps, sample size varies) and [[sampleStratified]]
    * (uniform within stratum): every row gets priority q = w / u with
    * u ~ Uniform(0,1); the k highest-priority rows are the sample, the
    * (k+1)-th priority is the threshold τ, and ŵ = max(w, τ) estimates so
    * that any subset's Σŵ over the sample is unbiased for its true Σw —
    * a k-row sketch that answers weighted-total queries over a 100 TB
    * corpus. If N ≤ k the whole population returns and ŵ = w exactly.
    *
    * DETERMINISTIC AND BIT-EXACT CROSS-ENGINE by construction: u derives
    * from md5(id) — the first 13 hex chars as a 52-bit integer h, then
    * u = (h + 0.5) / 2^52. Both h + 0.5 (53-bit significand) and the
    * power-of-two division are EXACT in IEEE doubles, and w / u is one
    * correctly-rounded division — so unlike ln-based Efraimidis–Spirakis
    * keys (transcendental, libm-dependent), every priority is
    * bit-identical in any engine and the sample hash-matches a SQL
    * replay. No RNG, stable under retry.
    *
    * Scale: one map-side priority expression + ONE distributed top-(k+1)
    * (TakeOrderedAndProject — per-partition bounded heaps, no global
    * sort, no shuffle of the corpus); the two unpartitioned windows rank
    * the ≤ k+1-row post-limit result (driver-bounded by construction, the
    * vocab_top precedent). Output: (id, weight, priority, w_est).
    *
    * Weight domain (both forms): the DLT scheme assumes w > 0 (size and
    * score weights are). A zero weight gets priority 0 and is never
    * sampled before any positive-weight row; negative weights are outside
    * the estimator's contract — filter upstream. */
  def samplePriority(docs: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val h52 = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 13), 16, 10)
      .cast("long").cast("double")
    val u = (h52 + lit(0.5)) / lit(4503599627370496.0) // 2^52
    val top = docs
      .select(col(idCol), col(weightCol).cast("double").as("weight"),
        (col(weightCol).cast("double") / u).as("priority"))
      .orderBy(col("priority").desc, col(idCol).asc)
      .limit(k + 1)
    val wOrd = org.apache.spark.sql.expressions.Window
      .orderBy(col("priority").desc, col(idCol).asc)
    val wFull = wOrd.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    top
      .withColumn("_rn", row_number().over(wOrd))
      .withColumn("_n", count(lit(1)).over(wFull))
      .withColumn("_tau", min(col("priority")).over(wFull))
      .where(col("_rn") <= k)
      .select(col(idCol), col("weight"), col("priority"),
        when(col("_n") <= k, col("weight"))
          .otherwise(greatest(col("weight"), col("_tau"))).as("w_est"))
  }

  /** Per-stratum priority sampling — [[samplePriority]]'s partition-parallel
    * form: an independent Duffield–Lund–Thorup sample of k rows per stratum
    * (per language, per source), each with its own threshold τ_s and the
    * same unbiased max(w, τ_s) estimator. This is the 100 TB shape when k
    * itself is large or strata are many: PARTITIONED windows only — every
    * stratum ranks in parallel on its own executor set and no k-row set
    * funnels through one task (the global variant's top-(k+1) reduce).
    * Same exact-IEEE priority construction, so results hash-match a SQL
    * replay bit-for-bit. A stratum with ≤ k rows returns whole (τ_s is
    * NULL — the rank k+1 row does not exist — and ŵ = w). Output:
    * (stratum, id, weight, priority, w_est). One stratum-keyed shuffle;
    * both window specs (rank, τ_s pluck) share its exchange. */
  def samplePriorityPerStratum(docs: DataFrame, stratumCol: String, idCol: String,
                               weightCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val h52 = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 13), 16, 10)
      .cast("long").cast("double")
    val u = (h52 + lit(0.5)) / lit(4503599627370496.0) // 2^52
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol)).orderBy(col("priority").desc, col(idCol).asc)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col(stratumCol))
    docs
      .select(col(stratumCol), col(idCol), col(weightCol).cast("double").as("weight"),
        (col(weightCol).cast("double") / u).as("priority"))
      .withColumn("_rn", row_number().over(wOrd))
      .withColumn("_tau", max(when(col("_rn") === k + 1, col("priority"))).over(wAll))
      .where(col("_rn") <= k)
      .select(col(stratumCol), col(idCol), col("weight"), col("priority"),
        when(col("_tau").isNull, col("weight"))
          .otherwise(greatest(col("weight"), col("_tau"))).as("w_est"))
  }

  /** Deterministic global corpus shuffle — the "shuffle the training data"
    * step before sequence packing: every document gets a stable
    * pseudo-random global position 1..N by ranking md5(id). The rank runs
    * through the two-phase bucket rank ([[Star.withSurrogateKey]]):
    * partitioned windows + broadcast prefix offsets, never a
    * single-partition global window — a 100 TB corpus shuffles with full
    * parallelism. The digest is suffixed with the id so the order is total
    * even under md5 collisions; no RNG, so the permutation is identical on
    * every engine, run, and retry.
    *
    * Contract: `idCol` must be UNIQUE and NON-NULL — the permutation is a
    * ranking of the distinct id set (duplicate-id rows collapse to one
    * position; a null id has no md5 and would surface as a null-keyed
    * row). Corpus ids satisfy this by construction; validate upstream
    * (the quality engine's identity rules) if the source cannot. */
  def corpusShuffle(docs: DataFrame, idCol: String): DataFrame = {
    // The shuffle key embeds the id after its 32-hex-char md5 prefix, so
    // the id is RECOVERED from the ranked key by substring instead of
    // joining the rank table back onto the corpus — withSurrogateKey's
    // bare-key path ranks the key set with no join-back, removing a whole
    // corpus-wide shuffle from the plan (the join existed only to carry
    // idCol alongside the rank).
    val idType = docs.schema(idCol).dataType
    Star.withSurrogateKey(
      docs.select(
        concat(md5(col(idCol).cast("string").cast("binary")),
          col(idCol).cast("string")).as("_skey")),
      "_skey", "shuffle_rank")
      .select(expr("substring(_skey, 33)").cast(idType).as(idCol),
        col("shuffle_rank"))
  }

  /** Per-source document cap — the "domain cap" curation step: keep at most
    * `k` documents per source/domain, chosen by a deterministic
    * pseudo-random rank (md5 of the id, suffixed with the id for totality),
    * so no single crawl source dominates the mixture and the survivor set
    * is identical on every engine/run/retry. One partitioned window. */
  def sourceCap(docs: DataFrame, idCol: String, groupCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(concat(md5(col(idCol).cast("string").cast("binary")),
        col(idCol).cast("string")))
    docs.select(col(idCol), col(groupCol))
      .withColumn("src_rank", row_number().over(w))
      .where(col("src_rank") <= k)
  }

  /** Composite corpus quality gate — the reference's rule-engine discipline
    * ([[Quality.annotate]]: one pass, ordered reason strings, clean/error
    * split) applied to training documents: too-short, low-stopword-ratio,
    * and repetitive docs are flagged with a ` | `-joined reasons column and
    * a keep decision. Signals reuse [[textQuality]] and
    * [[repetitionFilter]] (docs too short to produce bigrams carry
    * dup_fraction 0); all thresholds compare the 6dp-ROUNDED signals, so
    * the boundary behaves identically in any engine. */
  /** `repetition`: caller-supplied [[repetitionFilter]] output (same
    * idCol, any extra columns ignored). A pipeline that already ran the
    * repetition pass over this corpus hands it in and the gate skips its
    * own all-ngrams explode — one fewer full corpus pass; the n-gram
    * explode is the gate's dominant cost at scale. Default recomputes
    * (bigrams, the reference signal), byte-identical output either way
    * (spec-pinned). */
  def corpusGate(docs: DataFrame, idCol: String, textCol: String,
                 minTokens: Int, minStopRatio: Double,
                 maxDupFraction: Double,
                 repetition: Option[DataFrame] = None): DataFrame = {
    val q = textQuality(docs, idCol, textCol)
      .select(col(idCol), col("n_tokens"), col("stop_ratio"))
    val r = repetition
      .getOrElse(repetitionFilter(docs, idCol, textCol, 2, maxDupFraction))
      .select(col(idCol), col("dup_gram_fraction"))
    q.join(r, Seq(idCol), "left")
      .withColumn("dup_fraction", coalesce(col("dup_gram_fraction"), lit(0.0)))
      .withColumn("_reasons", concat_ws(" | ",
        when(col("n_tokens") < minTokens, "too_short"),
        when(col("stop_ratio") < minStopRatio, "low_stopword_ratio"),
        when(col("dup_fraction") > maxDupFraction, "repetitive")))
      .withColumn("keep", col("_reasons") === "")
      .select(col(idCol), col("n_tokens"), col("stop_ratio"),
        col("dup_fraction"), col("_reasons"), col("keep"))
  }

  /** C4-style word-blocklist gate (Raffel et al. 2020 §2.2 — the "bad
    * words" page filter; the reference's per-row drop-on-predicate rule
    * discipline, STEP3_QUALITY_ENGINE.py:107-178, pointed at corpus text):
    * flag every document containing a blocklisted WORD. Matching is at
    * TOKEN granularity, never substring — the substring form over-blocks
    * (the classic Scunthorpe failure: blocking "a" as a substring would
    * kill every document containing "data"; token matching keeps them,
    * spec-pinned). Entirely map-side: a real blocklist is KB-sized
    * (C4's English list is ~400 words) so it rides the plan as literals
    * — no join, no shuffle, no broadcast exchange; verdicts are a pure
    * projection and the gate costs one corpus scan at any corpus size.
    * The hit array lands in its own projection so the HOF filter runs
    * once, not once per consumer (the F2 sign-projection discipline).
    * Output: (id, n_blocked = blocklisted token OCCURRENCES,
    * blocked_terms = sorted distinct matched words comma-joined — the
    * audit trail, '' when clean, the error_audit reasons discipline),
    * keep = n_blocked == 0. */
  def blocklistGate(docs: DataFrame, idCol: String, textCol: String,
                    blocklist: Seq[String]): DataFrame = {
    require(blocklist.nonEmpty, "blocklistGate: empty blocklist")
    docs
      .select(col(idCol),
        filter(tokens(col(textCol)),
          t => t.isin(blocklist.map(_.asInstanceOf[Any]): _*)).as("_hits"))
      .select(col(idCol),
        size(col("_hits")).as("n_blocked"),
        concat_ws(",", array_sort(array_distinct(col("_hits"))))
          .as("blocked_terms"),
        (size(col("_hits")) === 0).as("keep"))
  }

  /** Power-of-two token-length histogram — the sequence-length planning
    * input for packing/bucketed batching: how many documents (and how much
    * token mass) falls in each [2^k, 2^(k+1)) length band. Pure map-side
    * bucketing + one tiny groupBy; bucket ids come from integer bit length,
    * never floating log2 (engine-stable at every boundary). */
  def tokenLengthHistogram(docs: DataFrame, textCol: String): DataFrame = {
    val n = size(tokens(col(textCol))).cast("long")
    docs.select(n.as("_n"))
      // floor(log2(n)) as binary-digit count minus one: integer-exact in
      // every engine, no float log at band boundaries
      .select((length(bin(greatest(col("_n"), lit(1L)))) - 1).cast("int").as("bucket"),
        col("_n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_n")).as("sum_tokens"),
        min(col("_n")).as("min_tokens"),
        max(col("_n")).as("max_tokens"))
      .withColumn("band_lo", expr("shiftleft(cast(1 as bigint), bucket)").cast("long"))
  }

  /** Token-balanced training-shard assignment: documents are laid out in the
    * deterministic md5 shuffle order ([[corpusShuffle]]) and cut into
    * `numShards` contiguous runs of ~equal TOKEN mass (not document count),
    * so every output shard feeds a trainer the same work. The global
    * running-token prefix sum uses the two-phase shape shared with the
    * surrogate-key rank: the md5 hex prefix buckets the order (a hex prefix
    * is order-preserving, so buckets tile the global order), a window
    * cumsums within each bucket, and per-bucket totals prefix-sum through a
    * broadcast triangular join — no single-partition window anywhere, and
    * shard boundaries are identical on every engine/run/retry. Downstream,
    * `df.write.partitionBy(shard)` lays the corpus out one directory per
    * shard (spec-verified round trip). Output: (id, n_tokens, shard). */
  def shardTokenBudget(docs: DataFrame, idCol: String, textCol: String,
                       numShards: Int): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    val keyed = docs.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_tokens"),
      concat(md5(col(idCol).cast("string").cast("binary")),
        col(idCol).cast("string")).as("_skey"))
    // 256 order-preserving buckets from the first two hex chars ('0'..'f'
    // sort below each other identically in ASCII and numerically)
    val bucketed = keyed.withColumn("_pid",
      conv(substring(col("_skey"), 1, 2), 16, 10).cast("int"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid")).orderBy(col("_skey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val local = bucketed.withColumn("_cum_local",
      coalesce(sum(col("n_tokens")).over(w), lit(0L)))
    // Per-bucket totals are read OFF the window output (the bucket's last
    // cumulative value: max of exclusive-prefix + own, exact since token
    // counts are nonnegative) rather than re-aggregated from `bucketed` —
    // a second aggregate over `bucketed` re-runs the tokenize+md5 scan at
    // corpus scale, while this subtree is the window stage itself, so the
    // shuffled corpus is computed once and the totals re-read it.
    val counts = local.groupBy(col("_pid"))
      .agg(max(col("_cum_local") + col("n_tokens")).as("_cnt"))
    val offsets = counts.as("a")
      .join(broadcast(counts.as("b")), col("b._pid") < col("a._pid"), "left")
      .groupBy(col("a._pid").as("_pid"))
      .agg(coalesce(sum(col("b._cnt")), lit(0L)).as("_offset"))
    val total = counts.agg(sum(col("_cnt")).as("_total"))
    local.join(broadcast(offsets), "_pid")
      .crossJoin(broadcast(total))
      .select(col(idCol), col("n_tokens"),
        least(
          floor((col("_offset") + col("_cum_local")) /
            ceil(col("_total") / lit(numShards.toDouble))),
          lit(numShards - 1L)).cast("int").as("shard"))
  }

  /** Overlapping token-window chunking — the context-window preparation
    * step: each document becomes ceil-coverage chunks of `chunkSize` tokens
    * advancing by `chunkSize - overlap`, so every token is covered and
    * consecutive chunks share `overlap` tokens. Pure exprs (`sequence` +
    * `slice` + `explode`); a 100 TB corpus chunks map-side with no shuffle.
    * Output: (id, chunk_id, n_chunk_tokens, chunk_text). */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap < chunkSize, "overlap must be smaller than chunkSize")
    val stride = chunkSize - overlap
    val toks = tokens(col(textCol))
    val n = size(toks)
    val nExtra = ceil(greatest(n - chunkSize, lit(0)).cast("double") / stride).cast("int")
    docs
      .select(col(idCol), toks.as("_toks"), explode(sequence(lit(0), nExtra)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        slice(col("_toks"), col("chunk_id") * stride + 1, lit(chunkSize)).as("_chunk"))
      .select(col(idCol), col("chunk_id"),
        size(col("_chunk")).as("n_chunk_tokens"),
        concat_ws(" ", col("_chunk")).as("chunk_text"))
  }

  /** Gopher-style repetition quality filter: the fraction of duplicated
    * word n-grams and the share of the single most frequent n-gram — the
    * signals used to drop boilerplate/spam docs before training. A doc is
    * kept when its duplicated-gram fraction is <= maxDupFraction.
    *
    * Scale: explode + two partial-agg shuffles, both keyed by doc_id (the
    * second reuses the first's partitioning — no second exchange). Docs
    * with fewer than n tokens produce no grams and no output row.
    * Output: (id, n_grams, n_distinct_grams, dup_gram_fraction,
    * top_gram_fraction, keep). */
  def repetitionFilter(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 2, maxDupFraction: Double = 0.2): DataFrame = {
    val grams = docs
      .select(col(idCol), explode(ngrams(tokens(col(textCol)), n)).as("_gram"))
      .groupBy(col(idCol), col("_gram")).agg(count(lit(1)).as("_cnt"))
    grams
      .groupBy(col(idCol))
      .agg(sum(col("_cnt")).as("n_grams"),
        count(lit(1)).as("n_distinct_grams"),
        max(col("_cnt")).as("_top_cnt"))
      .select(col(idCol), col("n_grams"), col("n_distinct_grams"),
        round((col("n_grams") - col("n_distinct_grams")).cast("double")
          / col("n_grams"), 6).as("dup_gram_fraction"),
        round(col("_top_cnt").cast("double") / col("n_grams"), 6)
          .as("top_gram_fraction"))
      .withColumn("keep", col("dup_gram_fraction") <= maxDupFraction)
  }

  /** Unigram language-model quality score (the CCNet-style filter signal):
    * each document's mean per-token log-probability under the corpus's own
    * unigram distribution — boilerplate and in-distribution text score high,
    * gibberish and outlier docs score low, and thresholding on it is the
    * classic perplexity quality gate.
    *
    * The corpus is tokenized ONCE into the postings table (doc_id, token,
    * tf); the unigram counts (`cnt` = sum of tf per token) and the corpus
    * total are re-aggregations OF that table, so the explode+regex scan —
    * the expensive part at corpus scale — runs a single time and its
    * exchange is reused by all three consumers (the same shape as bm25's
    * df/N/avgdl derivation). The corpus total rides as a 1-row broadcast
    * cross join. Per-token log-probs are rounded to 6dp and tf-weighted as
    * DECIMAL so the score is accumulation-order independent — bit-stable
    * across partitionings and engines. Output: (id, carry..., n_tokens,
    * avg_logprob).
    *
    * `carry` names per-document columns to RIDE the aggregation keys
    * (they are functionally dependent on the id, e.g. `lang`, `source`) —
    * a few bytes per postings row against the alternative of a SECOND
    * corpus scan plus a doc-keyed shuffle join to re-attach them
    * downstream (what ppl_buckets used to pay). Carry names must not
    * collide with the internals (`_id`, `token`, `tf`, the vocab/total
    * join columns `cnt`/`n_total`, the outputs, or the id column itself —
    * each would otherwise surface later as an opaque ambiguous-column
    * AnalysisException instead of this message). */
  def lmScore(docs: DataFrame, idCol: String, textCol: String,
              carry: Seq[String] = Nil): DataFrame = {
    require(!carry.exists(
      Set("_id", "token", "tf", "n_tokens", "avg_logprob", "cnt", "n_total", idCol)),
      s"carry collides with lmScore internals: $carry")
    val carryCols = carry.map(col)
    val tok = docs.select(
      (col(idCol).as("_id") +: carryCols) :+ explode(tokens(col(textCol))).as("token"): _*)
    val tf = tok.groupBy((col("_id") +: carryCols) :+ col("token"): _*)
      .agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
    val total = tf.agg(sum(col("tf")).as("n_total"))
    tf.join(vocab, "token")
      .crossJoin(broadcast(total))
      .select((col("_id") +: carryCols) ++ Seq(
        col("tf"),
        (col("tf") * round(log(col("cnt").cast("double") / col("n_total")), 6)
          .cast("decimal(18,6)")).as("_lp")): _*)
      .groupBy(col("_id") +: carryCols: _*)
      .agg(sum(col("tf")).as("n_tokens"), sum(col("_lp")).as("_sum_lp"))
      .select((col("_id").as(idCol) +: carryCols) ++ Seq(col("n_tokens"),
        round(col("_sum_lp").cast("double") / col("n_tokens"), 6).as("avg_logprob")): _*)
  }

  /** Per-document Shannon entropy of the document's own token distribution
    * (natural log), plus the ratio to its maximum ln(n_distinct) — the
    * low-entropy signal that flags repetitive/templated text a length or
    * stopword filter misses.
    *
    * ONE aggregation chain, NO joins: per-(doc, token) counts, then a
    * per-doc re-aggregation of the same exchange using the factored form
    * entropy = ln(n) − (Σ tf·ln tf)/n, so the doc total never needs to be
    * joined back. Per-token contributions are rounded to 6dp and
    * DECIMAL-summed — accumulation-order independent across engines and
    * partitionings. Ratio is 0.0 for single-token-type docs (entropy is
    * exactly 0 there). */
  def tokenEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol).as("_id"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("_id"), col("token")).agg(count(lit(1)).as("tf"))
    tf.groupBy(col("_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("tf") * round(log(col("tf").cast("double")), 6).cast("decimal(18,6)"))
          .as("_sum_tlnt"))
      // + 0.0 normalizes IEEE negative zero: the rounding-artifact case
      // (single-token-type doc whose round(ln tf, 6) rounds UP) yields
      // round(-4e-7, 6) = -0.0 in DuckDB (C std::round) but +0.0 in Spark
      // (BigDecimal has no signed zero), and the driver compares float
      // repr()s exactly. -0.0 + 0.0 == +0.0 in both engines.
      .withColumn("entropy",
        round(log(col("n_tokens").cast("double"))
          - col("_sum_tlnt").cast("double") / col("n_tokens"), 6) + lit(0.0))
      .select(col("_id").as(idCol), col("n_tokens"), col("n_distinct"),
        col("entropy"),
        when(col("n_distinct") > 1,
          round(col("entropy") / log(col("n_distinct").cast("double")), 6) + lit(0.0))
          .otherwise(lit(0.0)).as("entropy_ratio"))
  }

  /** Bigram language-model quality score — [[lmScore]] one order up (the
    * direction CCNet's 5-gram KenLM gate points): each document's mean
    * log P(w_i | w_{i-1}) under the corpus's own MLE bigram model
    * (bigram count / context count).
    *
    * The corpus is tokenized ONCE into the per-(doc, bigram) counts table;
    * the corpus bigram counts re-aggregate it (lm_score's reuse shape), and
    * the context counts — by definition the sum of bigram counts sharing a
    * first token — come from a WINDOW over the vocabulary-sized count table
    * partitioned by that first token, so no third corpus pass and no
    * vocab-side join exist at all. The document stream crosses exactly two
    * keyed shuffles and the heavy explode scan runs a single time.
    * Log-probs rounded to 6dp and tf-weighted as DECIMAL
    * (accumulation-order independent); the terminal division is unrounded
    * ([[lmKneserNey]]'s rule). Docs with fewer than two tokens have
    * no bigrams and drop out. */
  def lmBigram(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs.select(col(idCol).as("_id"),
        explode(ngrams(tokens(col(textCol)), 2)).as("bigram"))
      .groupBy(col("_id"), col("bigram")).agg(count(lit(1)).as("tf"))
    val wCtx = org.apache.spark.sql.expressions.Window
      .partitionBy(split(col("bigram"), " ").getItem(0))
    val probs = tf.groupBy(col("bigram")).agg(sum(col("tf")).as("cnt_bi"))
      .withColumn("cnt_ctx", sum(col("cnt_bi")).over(wCtx))
      .select(col("bigram"),
        round(log(col("cnt_bi").cast("double") / col("cnt_ctx")), 6)
          .cast("decimal(18,6)").as("_lp"))
    tf.join(probs, "bigram")
      .groupBy(col("_id"))
      .agg(sum(col("tf")).as("n_bigrams"), sum(col("tf") * col("_lp")).as("_sum_lp"))
      .select(col("_id").as(idCol), col("n_bigrams"),
        (col("_sum_lp").cast("double") / col("n_bigrams")).as("avg_logprob"))
  }

  /** Per-document n-gram novelty: the fraction of the document's DISTINCT
    * n-gram shingles that occur in no other document — high novelty means
    * the doc contributes n-grams the corpus doesn't already have (a
    * diversity/mixture-design diagnostic, the per-document complement of
    * [[graft.operators.Dedup.sourceOverlap]]).
    *
    * Postings discipline: the distinct (doc, shingle) table is built once
    * (the corpus explodes exactly once); document frequency is a COUNT OVER
    * a shingle-partitioned window on that table — no second corpus pass and
    * no join-back (a groupBy+join would either re-explode the corpus or
    * shuffle it twice on the same key) — then one doc-keyed count. A
    * shingle is "novel" iff its df — counting DOCS, not occurrences — is
    * exactly 1. Docs with fewer than n tokens have no shingles and drop
    * out. */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val post = docs
      .select(col(idCol).as("_id"), explode(Dedup.shingles(col(textCol), n)).as("shingle"))
    val wSh = org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))
    post.withColumn("df", count(lit(1)).over(wSh))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("_id").as(idCol), col("n_grams"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_grams"), 6).as("novelty"))
  }

  /** Greedy sequence packing: within each stratum, documents in id order are
    * packed into bins of `budget` tokens (a doc opens a new bin when the
    * running token count before it has crossed the next budget boundary) —
    * the batch-assembly step for constant-length training sequences.
    * One partitioned window (running sum); no global state. */
  def seqPack(docs: DataFrame, stratumCol: String, idCol: String,
              textCol: String, budget: Int): DataFrame = {
    val nTok = size(tokens(col(textCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs.select(col(idCol), col(stratumCol), nTok.as("n_tokens"))
      .withColumn("bin",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / budget).cast("long"))
  }

  /** Top-k TF-IDF terms per document — the keyword-extraction signal (which
    * terms characterize this doc against the corpus) used for topic tagging
    * and mixture diagnostics.
    *
    * Postings discipline (the lm_score/ngram_novelty shape): the corpus
    * tokenizes into the (doc, token, tf) table exactly ONCE; document
    * frequency is a COUNT OVER a token-partitioned window on that table
    * (its rows are distinct (doc, token) pairs by construction, so the
    * window counts docs) — no second corpus pass and no vocabulary join;
    * the corpus doc count rides a 1-row broadcast. After that, everything
    * is keyed (id, token, counts) — text never crosses a shuffle. The
    * final top-k is a doc-partitioned window (fine-grained partitions).
    * idf is rounded to 6dp before the tf multiply so the score is a
    * deterministic product of a long and a 6dp double — identical across
    * engines; ties rank by token ascending. */
  def tfidfTop(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val tf = docs.select(col(idCol).as("_id"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("_id"), col("token")).agg(count(lit(1)).as("tf"))
    val total = docs.agg(count(lit(1)).as("_n_docs"))
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy(col("token"))
    val scored = tf.withColumn("df", count(lit(1)).over(wTok))
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        round(col("tf") * round(log(col("_n_docs").cast("double") / col("df")), 6), 6))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_id")).orderBy(col("tfidf").desc, col("token"))
    scored.withColumn("rank", row_number().over(wDoc))
      .where(col("rank") <= k)
      .select(col("_id").as(idCol), col("token"), col("tf"), col("df"),
        col("tfidf"), col("rank"))
  }

  /** Training-mixture reweighting: per-stratum sampling weights that move
    * the corpus's ACTUAL token distribution to a caller-declared TARGET
    * share map (the Pile/Dolma-style mixture design step — upweight
    * under-represented strata, downweight dominant ones; weight > 1 means
    * "epochs over this stratum", < 1 means subsample at that rate).
    *
    * One stratum-keyed partial-agg shuffle over the corpus (token counts
    * aggregate map-side; text never shuffles); the corpus total rides a
    * 1-row broadcast. Strata absent from the target map get weight 0 —
    * explicit targets only, so a typo'd map fails loudly in the output
    * rather than silently keeping a stratum. Shares and weights are
    * IEEE-deterministic (single divisions of exact longs, rounded 6dp). */
  def mixWeights(docs: DataFrame, stratumCol: String, textCol: String,
                 target: Map[String, Double]): DataFrame = {
    val perStratum = docs
      .groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col(textCol))).cast("long")).as("n_tokens"))
    val total = perStratum.agg(sum(col("n_tokens")).as("_total"))
    val tgt = target.foldLeft(lit(0.0)) { case (acc, (s, w)) =>
      when(col("stratum") === s, w).otherwise(acc)
    }
    val actual = col("n_tokens").cast("double") / col("_total")
    perStratum.crossJoin(broadcast(total))
      .select(col("stratum"), col("n_docs"), col("n_tokens"),
        round(actual, 6).as("actual_share"),
        round(tgt, 6).as("target_share"),
        round(tgt / actual, 6).as("weight"))
  }

  /** Mixture-epoch materialization — the step that turns DECLARED mixture
    * weights ([[mixWeights]]' output, or a hand-tuned map) into the
    * PHYSICAL training list: a stratum with weight w contributes ⌊w⌋ full
    * epochs of every document plus one partial epoch keeping each doc
    * with probability w − ⌊w⌋ (the Pile/Dolma "epochs over a source"
    * semantics; w < 1 is pure subsampling). Output: one (id, stratum,
    * epoch) row per materialized copy, epoch 0-based.
    *
    * Deterministic, no RNG: the partial-epoch keep decision compares the
    * 8-hex md5 prefix of "id:epoch" against ⌊frac·2^32⌋ as hex (the
    * [[sampleWeighted]] threshold-string convention) — identical output
    * on every engine/run/retry, and distinct epochs of one doc draw
    * independent coins. Map-side only: one generate per doc (⌊w⌋+1
    * candidate epochs) and a filter — ZERO shuffles at any scale; the
    * blow-up factor is exactly the declared weight, never a join. */
  def materializeEpochs(docs: DataFrame, stratumCol: String, idCol: String,
                        weights: Map[String, Double],
                        defaultWeight: Double = 1.0): DataFrame = {
    require((defaultWeight +: weights.values.toSeq).forall(w => w >= 0 && w <= 64),
      "epoch weights must be in [0, 64] — a larger weight is a config typo")
    def thr(w: Double): String = {
      val frac = w - math.floor(w)
      f"${math.max((frac * 4294967296.0).toLong, 0L)}%08x"
    }
    val wCol = weights.toSeq.sortBy(_._1).foldLeft(lit(defaultWeight)) {
      case (acc, (s, w)) => when(col(stratumCol) === s, lit(w)).otherwise(acc)
    }
    val thrCol = weights.toSeq.sortBy(_._1).foldLeft(lit(thr(defaultWeight))) {
      case (acc, (s, w)) => when(col(stratumCol) === s, lit(thr(w))).otherwise(acc)
    }
    docs
      .select(col(idCol), col(stratumCol), floor(wCol).cast("int").as("_full"),
        thrCol.as("_thr"))
      .select(col(idCol), col(stratumCol), col("_full"), col("_thr"),
        explode(sequence(lit(0), col("_full"))).as("epoch"))
      .where(col("epoch") < col("_full") ||
        substring(md5(concat(col(idCol).cast("string"), lit(":"),
          col("epoch").cast("string")).cast("binary")), 1, 8) < col("_thr"))
      .select(col(idCol), col(stratumCol), col("epoch"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * how target-like its hashed n-gram distribution is — the standard
    * data-selection signal for up-sampling in-domain text out of a raw
    * crawl. Features are word unigrams AND bigrams (with multiplicity)
    * hashed into `nBuckets` buckets; target and raw bag-of-buckets unigram
    * models get add-1 smoothing; a document's log importance weight is
    * Σ_features log(p_target(b) / p_raw(b)). Downstream, resampling with
    * probability ∝ exp(weight) reproduces DSIR; this operator emits the
    * ranking signal. Output: (id, n_feats, dsir_logw), every input doc.
    *
    * Determinism/oracle discipline: the bucket hash is the MD5-top-32-bit
    * value mod nBuckets (reproducible in any SQL engine — the
    * [[corpusShuffle]] family's portable-hash convention); per-bucket
    * log-ratios are computed in ONE double expression, rounded to 6dp,
    * and per-doc sums run over DECIMAL — accumulation-order independent
    * across partitionings and engines (the [[lmScore]] discipline).
    *
    * Scale (100 TB): the model is BOUNDED AT nBuckets ROWS regardless of
    * corpus size — bucket stats aggregate with map-side combine into
    * ≤ nBuckets rows, totals ride a 1-row broadcast, and the per-feature
    * scoring join is a BROADCAST of the nBuckets-row ratio table against
    * the exploded feature stream (never a shuffle of the corpus on
    * feature keys); the only corpus-sized shuffle is the final per-doc
    * sum, keyed by the 8-byte id. Raw counts include the target subset
    * (DSIR's convention: raw = the full crawl). */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column, nBuckets: Int = 1024): DataFrame = {
    val toks = tokens(col(textCol))
    val grams = concat(toks, ngrams(toks, 2))
    val feats = docs.select(col(idCol).as("_id"), isTarget.as("_t"),
        explode(grams).as("_g"))
      .select(col("_id"), col("_t"),
        (conv(substring(md5(col("_g")), 1, 8), 16, 10).cast("long")
          % nBuckets).as("_b"))
    // ONE feature pass (r19; the model stats and the scoring join each
    // re-ran the explode+md5 stream before): per-(doc, bucket)
    // multiplicities aggregate first — map-side combine collapses repeated
    // buckets within a doc, so this shuffles STRICTLY fewer bytes than the
    // raw feature stream the per-doc sum shuffled before — and both the
    // bucket model and the per-doc score derive from that table.
    // Identical integers and sums: n_feats = Σ_k, Σ_lr = Σ k·_lr (long ×
    // DECIMAL(18,6) products are exact).
    val db = feats.groupBy(col("_id"), col("_t"), col("_b"))
      .agg(count(lit(1)).as("_k"))
      // the bucket-model broadcast build would otherwise re-run this
      // whole subtree (AQE broadcast builds bypass exchange reuse — the
      // r17 lesson); one checkpoint of the already-aggregated table
      .ckptLocal()
    val stats = db.groupBy(col("_b")).agg(
      sum(when(col("_t"), col("_k")).otherwise(0L)).as("_ct"),
      sum(col("_k")).as("_cr"))
    val totals = stats.agg(sum(col("_ct")).as("_nt"), sum(col("_cr")).as("_nr"))
    // One double expression on both engines: log of the smoothed ratio,
    // with double division before multiplication so no integer product
    // can overflow at corpus scale.
    val ratio = stats.crossJoin(broadcast(totals))
      .select(col("_b"),
        round(log(((col("_ct") + 1).cast("double") / (col("_nt") + nBuckets)) *
          ((col("_nr") + nBuckets).cast("double") / (col("_cr") + 1))), 6)
          .cast("decimal(18,6)").as("_lr"))
    db.join(broadcast(ratio), "_b")
      .groupBy(col("_id"))
      .agg(sum(col("_k")).as("n_feats"), sum(col("_k") * col("_lr")).as("_sum"))
      .select(col("_id").as(idCol), col("n_feats"),
        round(col("_sum").cast("double"), 6).as("dsir_logw"))
  }

  /** PMI collocation mining — the phrase-induction signal (Church & Hanks
    * 1990 pointwise mutual information) for tokenizer/vocabulary curation:
    * word pairs that co-occur far above chance (pmi = ln(P(xy)/(P(x)P(y))))
    * are the multi-word units worth single tokens. Emits the top-k
    * above-`minCount` bigrams by (pmi desc, bigram).
    *
    * Scale: ONE corpus explode — unigrams and bigrams ride the same
    * explode under a type tag, so one aggregation produces both count
    * tables (the dsir single-explode discipline); everything after is
    * vocabulary-sized (two broadcast joins of the bigram table against
    * the unigram counts + a 1-row totals broadcast). Determinism: pmi is
    * one parenthesization-pinned double expression rounded to 6dp, ties
    * break on the bigram string. */
  def pmiCollocations(docs: DataFrame, textCol: String,
                      minCount: Long = 5L, k: Int = 50): DataFrame = {
    require(minCount >= 1 && k >= 1, s"need minCount, k >= 1: $minCount, $k")
    val toks = tokens(col(textCol))
    val tagged = concat(
      transform(toks, t => struct(lit("u").as("tag"), t.as("gram"))),
      transform(ngrams(toks, 2), g => struct(lit("b").as("tag"), g.as("gram"))))
    val counts = docs.select(explode(tagged).as("_e"))
      .select(col("_e.tag").as("_tag"), col("_e.gram").as("_gram"))
      .groupBy(col("_tag"), col("_gram")).agg(count(lit(1)).as("_n"))
    val uni = counts.where(col("_tag") === "u")
      .select(col("_gram").as("_w"), col("_n").as("_cw"))
    val tot = uni.agg(sum(col("_cw")).as("_nt"))
    val bi = counts.where(col("_tag") === "b" && col("_n") >= minCount)
      .select(col("_gram").as("bigram"), col("_n").as("n_pair"),
        split(col("_gram"), " ").getItem(0).as("_l"),
        split(col("_gram"), " ").getItem(1).as("_r"))
    val scored = bi
      .join(broadcast(uni.withColumnRenamed("_w", "_l").withColumnRenamed("_cw", "_cl")), "_l")
      .join(broadcast(uni.withColumnRenamed("_w", "_r").withColumnRenamed("_cw", "_cr")), "_r")
      .crossJoin(broadcast(tot))
      .withColumn("pmi", round(log(
        (col("n_pair").cast("double") / col("_cl")) *
          (col("_nt").cast("double") / col("_cr"))), 6))
    // top-k via orderBy+limit (TakeOrderedAndProject — per-partition
    // bounded heaps, no global sort); the unpartitioned rank window runs
    // AFTER the limit over <= k rows (the vocab_top post-limit shape)
    scored.select(col("bigram"), col("n_pair"), col("pmi"))
      .orderBy(col("pmi").desc, col("bigram")).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("pmi").desc, col("bigram"))).cast("int"))
  }

  /** Budget-constrained mixture allocation — EXACT integer waterfilling of
    * a token budget across sources: every source gets min(capacity, level)
    * where the level is the unique waterline at which the budget is spent;
    * small sources are fully funded, large sources are capped at the level
    * — the Pile/Dolma-style mixture-construction step when the training
    * budget is smaller than the corpus. Closed form, no iteration: sort by
    * capacity, a source is funded iff funding it and every larger source
    * at its own capacity still fits (monotone in the sort), the level is
    * one integer division of the residual and the remainder spreads to the
    * first unfunded sources in id order. Σ alloc == min(budget, total)
    * EXACTLY — all arithmetic is integer, engine-exact by construction.
    *
    * Scale: one corpus pass to per-source token capacities, then windows
    * over the |sources|-row table (the unpartitioned-window-over-
    * dimension-sized-aggregates shape, vocab_top precedent) and a 1-row
    * broadcast totals join. cap·n stays below 2^63 for any corpus that
    * fits in long token counts. Output: (groupCol, cap_tokens,
    * alloc_tokens, funded). */
  def waterfillBudget(docs: DataFrame, groupCol: String, textCol: String,
                      budgetDivisor: Long = 2L): DataFrame = {
    require(budgetDivisor >= 1, s"budgetDivisor must be >= 1: $budgetDivisor")
    import org.apache.spark.sql.expressions.Window
    val caps = docs
      .select(col(groupCol), size(tokens(col(textCol))).cast("long").as("_c"))
      .groupBy(col(groupCol)).agg(sum(col("_c")).as("cap_tokens"))
    val tot = caps.agg(sum(col("cap_tokens")).as("_total"),
      count(lit(1)).as("_n"))
    // unpartitioned windows over the |sources|-row aggregate — the
    // dimension-sized post-aggregation shape (vocab_top precedent)
    val ord = Window.orderBy(col("cap_tokens"), col(groupCol))
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val f = caps.crossJoin(broadcast(tot))
      .withColumn("_b", expr(s"_total div ${budgetDivisor}L"))
      .withColumn("_rn", row_number().over(ord))
      .withColumn("_pref", sum(col("cap_tokens"))
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("funded",
        col("cap_tokens") * (col("_n") - col("_rn") + 1) +
          (col("_pref") - col("cap_tokens")) <= col("_b"))
    f.withColumn("_k", sum(when(col("funded"), 1L).otherwise(0L)).over(full))
      .withColumn("_pk",
        sum(when(col("funded"), col("cap_tokens")).otherwise(0L)).over(full))
      .withColumn("_ur", row_number()
        .over(Window.partitionBy(col("funded")).orderBy(col(groupCol))))
      .select(col(groupCol), col("cap_tokens"),
        when(col("funded"), col("cap_tokens")).otherwise(
          expr("(_b - _pk) div (_n - _k)") +
            when(col("_ur") <= (col("_b") - col("_pk")) % (col("_n") - col("_k")),
              1L).otherwise(0L)).as("alloc_tokens"),
        col("funded"))
  }

  /** Model-based quality filtering — fastText/CCNet-style hashed linear
    * classifier INFERENCE (the "quality classifier" stage of modern corpus
    * pipelines): each word unigram and bigram hashes into one of
    * `weights.length` buckets, the doc's logit is the mean bucket weight
    * plus a bias, and the doc is kept when the logit clears zero (the
    * sigmoid is monotone, so thresholding the probability IS thresholding
    * the logit — no transcendental in the hot path). `weights` is the
    * trained parameter vector (here the caller pins it; training is out of
    * scope, this is the apply side).
    *
    * Scale: at or under `literalBudget` buckets, a PURE PROJECTION — the
    * weight vector rides into codegen as a literal array (`element_at`),
    * feature hashing and the weighted fold run inside one `aggregate`
    * lambda per row, and NO shuffle of any kind exists in the plan (unlike
    * [[dsirWeights]], which learns its table from corpus statistics
    * first). Past the budget (a production fastText vector is millions of
    * buckets — too big for a plan literal) the carrier switches to a
    * BROADCAST bucket→weight join over exploded features + one id-keyed
    * per-doc sum; with dyadic weights the two carriers are bit-identical
    * (spec-pinned). Per-row cost is O(tokens) either way. Docs with NO
    * features (NULL text → NULL gram array) are dropped by BOTH carriers
    * — the explode carrier structurally, the literal carrier by an
    * explicit filter — so carrier choice never changes the row set.
    * Output: (id, n_feats, logit, kept).
    *
    * Determinism: with dyadic weights (k/2^32-style, the pinned-artifact
    * convention) every partial sum is exact in IEEE double, so the fold
    * order can't matter and the logit replays bit-identically in SQL. */
  def hashClassifier(docs: DataFrame, idCol: String, textCol: String,
                     weights: Array[Double], bias: Double = 0.0,
                     carry: Seq[String] = Nil,
                     literalBudget: Int = 8192): DataFrame = {
    require(weights.nonEmpty,
      "hashClassifier needs a non-empty weight vector (an empty one would " +
        "surface as a bucket-modulo division by zero at runtime)")
    require(!carry.exists(Set("_grams", "_g", "_b", "_w", "_id", "n_feats",
      "logit", "kept", idCol)),
      s"carry collides with hashClassifier internals: $carry")
    val nb = weights.length
    val toks = tokens(col(textCol))
    val carryCols = carry.map(col)
    val grams = concat(toks, ngrams(toks, 2))
    def bucket(g: Column): Column =
      conv(substring(md5(g), 1, 8), 16, 10).cast("long") % nb
    if (nb <= literalBudget) {
      // literal carrier: the weight vector rides into codegen as an
      // element_at array — zero shuffles, one projection.
      def w(g: Column): Column =
        element_at(typedLit(weights), (bucket(g) + 1).cast("int"))
      // Materialize the feature array once per row: the outer projection
      // references it three times (size twice, the fold once), and
      // CollapseProject keeps a multi-referenced non-trivial alias in its
      // own projection rather than inlining three tokenize+ngram passes.
      // Featureless docs are exactly the NULL-text docs — Spark's split
      // returns >= 1 element for ANY non-null input, so
      // size(_grams) > 0 <=> text IS NOT NULL — and the filter MUST be
      // this cheap pre-projection predicate: filtering on size(_grams)
      // AFTER the projection gets predicate-pushed below it with the
      // alias substituted, re-deriving the whole tokenize+ngram
      // expression per row in a non-fused Filter (round-14's 7×/4.8×
      // quality_classify/domain_gate regression). IsNotNull also pushes
      // into the parquet scan for free. Dropping NULL-text docs matches
      // the broadcast carrier (explode drops them structurally) and the
      // oracle's per-doc group-by.
      docs.where(col(textCol).isNotNull)
        .select((col(idCol) +: carryCols) :+ grams.as("_grams"): _*)
        .select((col(idCol) +: carryCols) ++ Seq(
          size(col("_grams")).cast("long").as("n_feats"),
          (lit(bias) + aggregate(col("_grams"), lit(0.0), (acc, g) => acc + w(g))
            / size(col("_grams"))).as("logit")): _*)
        .withColumn("kept", col("logit") > 0.0)
    } else {
      // broadcast-join carrier for production-size models (a real fastText
      // vector is millions of buckets — too big for a plan literal, the
      // >4k-centroid ANN-carrier precedent): explode features, broadcast
      // the bucket->weight table, one id-keyed per-doc sum. With the exact
      // dyadic-weight convention the sum is order-independent, so BOTH
      // carriers produce bit-identical logits (spec-pinned).
      val spark = docs.sparkSession
      import spark.implicits._
      val wdf = broadcast(weights.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("_b", "_w"))
      docs.select((col(idCol).as("_id") +: carryCols) :+
          explode(grams).as("_g"): _*)
        .select((col("_id") +: carryCols) :+ bucket(col("_g")).as("_b"): _*)
        .join(wdf, "_b")
        .groupBy(col("_id") +: carryCols: _*)
        .agg(count(lit(1)).as("n_feats"), sum(col("_w")).as("_sum"))
        .select((col("_id").as(idCol) +: carryCols) ++ Seq(col("n_feats"),
          (lit(bias) + col("_sum") / col("n_feats")).as("logit")): _*)
        .withColumn("kept", col("logit") > 0.0)
    }
  }

  /** Domain-level (per-source) keep decision — the two-level gate web-scale
    * curation applies ABOVE per-doc filters: aggregate each source's doc
    * population (count, mean length, classifier keep-rate from
    * [[hashClassifier]]) and keep the WHOLE source only when it is both big
    * enough to judge (`minDocs`) and mostly classifier-clean
    * (`minKeepRate`) — spam/SEO domains fail wholesale even though some
    * individual pages slip past per-doc gates, and tiny sources don't get
    * judged on a handful of docs.
    *
    * Scale: the per-doc score is the classifier's shuffle-free projection;
    * the ONLY exchange is the per-source aggregate (partial map-side
    * combine, |sources| result rows). Verdicts join back to docs as a
    * dimension-sized broadcast when applied. Output: (groupCol, n_docs,
    * mean_chars, keep_rate, src_kept). Both ratios are single divisions of
    * exactly-summed integers — engine-exact. */
  def domainGate(docs: DataFrame, idCol: String, textCol: String,
                 groupCol: String, charsCol: String, weights: Array[Double],
                 minDocs: Long = 10L, minKeepRate: Double = 0.5): DataFrame =
    hashClassifier(docs, idCol, textCol, weights,
        carry = Seq(groupCol, charsCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(charsCol).cast("long")).as("_chars"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("_nk"))
      .select(col(groupCol), col("n_docs"),
        (col("_chars").cast("double") / col("n_docs")).as("mean_chars"),
        (col("_nk").cast("double") / col("n_docs")).as("keep_rate"))
      .withColumn("src_kept",
        col("n_docs") >= minDocs && col("keep_rate") > minKeepRate)

  /** Self-BLEU-style clipped n-gram precision of each source against the
    * REST of the corpus (Papineni et al. 2002's modified precision; Zhu et
    * al. 2018's Self-BLEU as a DIVERSITY metric) — the eval-family
    * complement to [[graft.operators.Dedup.sourceOverlap]]'s set Jaccard:
    * Jaccard sees vocabulary overlap, this sees MULTISET production
    * overlap, so a source that re-emits common n-grams at high volume
    * scores high (redundant with the corpus) even when its vocabulary
    * looks ordinary. p_n = Σ_g min(c_src(g), c_rest(g)) / Σ_g c_src(g)
    * for n = 1..maxN, reported as exact integer clip/total pairs plus the
    * geometric-mean log precision.
    *
    * Scale — the ksBySource source-vs-rest discipline: c_rest(g) =
    * c_total(g) − c_src(g), so NO pair join ever forms; the plan is one
    * (source, n, gram) count aggregate, one (n, gram) total re-aggregate
    * joined back on the gram key, and a |sources|-row final — linear in
    * the corpus, never |sources|² anything. Each order's grams (n = 1
    * included) come from the compiled word n-gram kernel
    * [[graft.functions.NativeExprs.ngrams]] over the non-empty tokens, and
    * all orders explode together once. Brevity penalty is omitted
    * (it compares parallel candidate/reference lengths; against a 19×
    * bigger rest it is pure noise). FP discipline: each ln(clip/total)
    * rounds to 6dp into DECIMAL(18,6) (the bm25 convention), the 4-term
    * sum is exact decimal, and the /maxN happens after one exact double
    * cast — engine-exact throughout. log_p_geo is NULL when any order has
    * zero clipped overlap (log 0) or an empty total (a source whose every
    * doc is shorter than maxN tokens).
    * Output: (source, n, total, clip, log_p) per order plus the rollup
    * ([[selfBleu]] returns the per-source rollup: source, tot1..totN,
    * clip1..clipN, log_p_geo). */
  def selfBleu(docs: DataFrame, srcCol: String, textCol: String,
               maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 6, s"selfBleu needs 1 <= maxN <= 6, got $maxN")
    val toks = filter(tokens(col(textCol)), t => t =!= "")
    // ONE corpus pass for all orders: each order's gram array lifts to
    // (n, gram) structs and the concatenation explodes once — a per-order
    // union re-scans and re-tokenizes the corpus maxN times (measured
    // 2.5 s vs 1.3 s at sf0.1)
    val tagged = concat((1 to maxN).map(n =>
      transform(ngrams(col("_w"), n), s => struct(lit(n).as("_n"), s.as("_g")))): _*)
    val perOrder = docs.select(col(srcCol).as("_src"), toks.as("_w"))
      .select(col("_src"), explode(tagged).as("_ng"))
      .select(col("_src"), col("_ng._n").as("_n"), col("_ng._g").as("_g"))
    val counts = perOrder.groupBy(col("_src"), col("_n"), col("_g"))
      .agg(count(lit(1)).as("_c"))
    val totals = counts.groupBy(col("_n"), col("_g"))
      .agg(sum(col("_c")).as("_tot"))
    val perSrc = counts.join(totals, Seq("_n", "_g"))
      .groupBy(col("_src"), col("_n"))
      .agg(sum(col("_c")).as("_total"),
        sum(least(col("_c"), col("_tot") - col("_c"))).as("_clip"))
      .withColumn("_logp",
        when(col("_clip") > 0,
          round(log(col("_clip").cast("double") / col("_total")), 6)
            .cast("decimal(18,6)")))
    val aggs = (1 to maxN).flatMap { n =>
      Seq(max(when(col("_n") === n, col("_total"))).as(s"tot$n"),
        max(when(col("_n") === n, col("_clip"))).as(s"clip$n"))
    } :+ sum(col("_logp")).as("_lsum") :+
      count(col("_logp")).as("_nl")
    perSrc.groupBy(col("_src"))
      .agg(aggs.head, aggs.tail: _*)
      .select((col("_src").as(srcCol) +:
        (1 to maxN).flatMap(n => Seq(col(s"tot$n"), col(s"clip$n")))) :+
        when(col("_nl") === maxN,
          col("_lsum").cast("double") / maxN).as("log_p_geo"): _*)
  }

  /** Stupid-backoff trigram scoring (Brants et al. 2007 "Large Language
    * Models in Machine Translation" — the DISTRIBUTED production LM:
    * no discounting, no normalization passes, designed explicitly for
    * MapReduce-scale count tables where Kneser–Ney's continuation
    * bookkeeping is the bottleneck; scores are intentionally
    * unnormalized "S", not probabilities). S(w3|w1w2) = c123/c12 when
    * the trigram is observed, else α·c23/c2, else α²·max(c3,1)/N — the
    * add-one OOV floor keeps ln finite; α = 0.4 (the paper's constant;
    * α² is PINNED as the literal 0.16 on both engines — 0.4·0.4 in
    * doubles is NOT 0.16).
    *
    * Unlike [[lmScore]]/[[lmKneserNey]] — which score the corpus on
    * itself, so every n-gram is observed and backoff would never fire —
    * the model trains on the EVEN doc ids and scores the ODD ones (the
    * decontaminate split convention): the held-out shape an LM eval
    * needs anyway, and the one where the backoff chain actually runs.
    * Engine-exact: integer counts, each ratio one correctly-rounded
    * division, ln 6dp-DECIMAL per trigram, order-free doc sums.
    *
    * Scale: the model side is ONE corpus pass — all three gram orders
    * (the non-empty tokens, and their bigrams and trigrams from
    * [[graft.functions.NativeExprs.ngrams]]) explode order-tagged into a
    * single map-side-combined aggregation
    * (r19; previously six passes), from which the five lookup tables and
    * the 1-row token total filter; the test side joins them on gram keys
    * (vocabulary-sized shuffles — the lm_bigram discipline); N rides the
    * audited 1-row broadcast. Docs under 3 tokens vanish (no trigram to
    * score).
    * Output: (doc_id, n_trigrams, sum_logscore, n_tri_hit, n_bi_hit,
    * n_uni_hit) — the EXACT 6dp-DECIMAL sum is emitted rather than the
    * per-doc average: dividing an exact 6dp sum by an integer count can
    * land the true quotient EXACTLY on a 6dp rounding boundary that no
    * double represents (observed at sf0.1: −282.237891/78 =
    * −3.6184345 exactly — Spark's BigDecimal round and DuckDB's round
    * disagreed on the nearest-double's last ulp), while the sum itself
    * converts exactly. Consumers divide by n_trigrams. The hit split is
    * the model-coverage diagnostic (a held-out set scoring mostly
    * through the α² floor means the model doesn't cover the domain). */
  def lmStupidBackoff(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = filter(tokens(col(textCol)), t => t =!= "")
    val model = docs.where(col(idCol) % 2 === 0)
    // ONE model pass (r19; was six: per-order counts twice each + the
    // token total): every order's grams explode order-tagged into a
    // single aggregation, localCheckpointed because five lookup tables,
    // and the 1-row total, filter from it. The bigram/unigram tables are
    // literally the same counts joined under two keys, and the token
    // total is the unigram counts' sum — identical integers throughout.
    val counts = model.select(explode(concat(
        transform(ngrams(toks, 3), g => struct(lit(3).as("o"), g.as("g"))),
        transform(ngrams(toks, 2), g => struct(lit(2).as("o"), g.as("g"))),
        transform(toks, g => struct(lit(1).as("o"), g.as("g"))))).as("u"))
      .groupBy(col("u.o").as("_o"), col("u.g").as("_g"))
      .agg(count(lit(1)).as("_c"))
      .ckptLocal()
    def orderSlice(o: Int, key: String, out: String) =
      counts.where(col("_o") === o)
        .select(col("_g").as(key), col("_c").as(out))
    val t3 = orderSlice(3, "_g3", "_c123")
    val t2a = orderSlice(2, "_g12", "_c12")
    val t2b = orderSlice(2, "_g23", "_c23")
    val t1a = orderSlice(1, "_w2", "_c2")
    val t1b = orderSlice(1, "_w3", "_c3")
    val nTot = broadcast(counts.where(col("_o") === 1)
      .agg(coalesce(sum(col("_c")), lit(0L)).as("_n")))
    val tf = docs.where(col(idCol) % 2 === 1)
      .select(col(idCol).as("_id"), explode(ngrams(toks, 3)).as("tri"))
      .groupBy(col("_id"), col("tri")).agg(count(lit(1)).as("tf"))
    val p = split(col("tri"), " ")
    val joined = tf
      .withColumn("_k12", concat_ws(" ", p.getItem(0), p.getItem(1)))
      .withColumn("_k23", concat_ws(" ", p.getItem(1), p.getItem(2)))
      .withColumn("_kw2", p.getItem(1))
      .withColumn("_kw3", p.getItem(2))
      .join(t3, col("tri") === col("_g3"), "left")
      .join(t2a, col("_k12") === col("_g12"), "left")
      .join(t2b, col("_k23") === col("_g23"), "left")
      .join(t1a, col("_kw2") === col("_w2"), "left")
      .join(t1b, col("_kw3") === col("_w3"), "left")
      .crossJoin(nTot) // 1-row model-token total — audited class
    // an observed trigram implies its observed w1w2 prefix (and an
    // observed w2w3 its observed w2), so each branch's denominator is
    // non-null whenever the branch fires
    val s = when(col("_c123").isNotNull,
        col("_c123").cast("double") / col("_c12"))
      .when(col("_c23").isNotNull,
        lit(0.4) * (col("_c23").cast("double") / col("_c2")))
      .otherwise(lit(0.16) *
        (greatest(coalesce(col("_c3"), lit(0L)), lit(1L)).cast("double") / col("_n")))
    val b = when(col("_c123").isNotNull, lit(3))
      .when(col("_c23").isNotNull, lit(2)).otherwise(lit(1))
    joined
      .select(col("_id"), col("tf"),
        round(log(s), 6).cast("decimal(18,6)").as("_lp"), b.as("_b"))
      .groupBy(col("_id"))
      .agg(sum(col("tf")).as("n_trigrams"),
        sum(col("tf") * col("_lp")).as("_slp"),
        sum(when(col("_b") === 3, col("tf")).otherwise(0L)).as("n_tri_hit"),
        sum(when(col("_b") === 2, col("tf")).otherwise(0L)).as("n_bi_hit"),
        sum(when(col("_b") === 1, col("tf")).otherwise(0L)).as("n_uni_hit"))
      .select(col("_id").as(idCol), col("n_trigrams"),
        col("_slp").cast("double").as("sum_logscore"),
        col("n_tri_hit"), col("n_bi_hit"), col("n_uni_hit"))
  }

  /** Corpus-wide token BURSTINESS: variance-to-mean ratio of each top
    * token's per-document counts (the index of dispersion). Poisson
    * scatter reads VMR ≈ 1; topical/bursty tokens concentrate in few
    * documents and read VMR ≫ 1; boilerplate injected once per page
    * reads VMR < 1 (more regular than chance) — the signal that
    * separates a frequent CONTENT word from a frequent TEMPLATE word,
    * which raw frequency (vocab_top) cannot do.
    *
    * Exact over the whole corpus: E[x] = Σx/n_docs and E[x²] = Σx²/n_docs
    * come from integer sums over the (doc, token) count table (absent
    * docs contribute 0 to both, so no dense grid is needed), VMR =
    * (E[x²] − E[x]²)/E[x] is a fixed single-op double chain. The top-k
    * cut is the deterministic (count desc, token) distributed
    * TakeOrdered — the vocab_top discipline, no full-vocabulary sort.
    * Output: (token, n_total, n_docs_with, doc_ratio 6dp, vmr 6dp). */
  def tokenBurstiness(docs: DataFrame, idCol: String, textCol: String,
                      topK: Int = 30): DataFrame = {
    require(topK >= 1 && topK <= 1000, s"tokenBurstiness needs 1 <= topK <= 1000, got $topK")
    val base = docs.where(col(textCol).isNotNull)
    val tf = base.select(col(idCol).as("_id"),
        explode(tokens(col(textCol))).as("t"))
      .where(col("t") =!= "")
      .groupBy(col("_id"), col("t")).agg(count(lit(1)).as("_x"))
    val nd = broadcast(base.agg(count(lit(1)).as("_nd")))
    val top = tf.groupBy(col("t"))
      .agg(sum(col("_x")).as("n_total"), count(lit(1)).as("n_docs_with"),
        sum(col("_x") * col("_x")).as("_sx2"))
      .orderBy(col("n_total").desc, col("t")).limit(topK)
    val withStats = top.crossJoin(nd) // 1-row doc count — audited class
      .select(col("t").as("token"), col("n_total"), col("n_docs_with"),
        (col("n_total").cast("double") / col("_nd").cast("double")).as("_mean"),
        (col("_sx2").cast("double") / col("_nd").cast("double")).as("_ex2"),
        (col("n_docs_with").cast("double") / col("_nd").cast("double")).as("_dr"))
    withStats.select(col("token"), col("n_total"), col("n_docs_with"),
      round(col("_dr"), 6).as("doc_ratio"),
      round((col("_ex2") - col("_mean") * col("_mean")) / col("_mean"), 6).as("vmr"))
  }

  /** Per-source vocabulary CONCENTRATION: the Gini coefficient of the
    * token-frequency distribution, computed EXACTLY from the frequency
    * SPECTRUM (f, V_f) — never a per-type sort. Near 1 a handful of
    * types carry the mass (boilerplate floods, templated text); near 0
    * every type is equally frequent (random-id junk); natural prose
    * sits high (~0.7–0.9, Zipf implies concentration) — the inequality
    * summary beside [[zipfFit]]'s decay shape and
    * [[lexicalDiversity]]'s repeat rate.
    *
    * For frequencies sorted ascending, G = 2·Σᵢ i·xᵢ/(V·N) − (V+1)/V;
    * a spectrum run of V_f types at frequency f contributes
    * f·(V_f·cumV₍₋₎ + V_f(V_f+1)/2) to the position-weighted sum — ALL
    * INTEGER (the halving is a shift: V_f(V_f+1) is even), so the only
    * doubles are the two final divisions, identically parenthesized.
    * Scale: one (source, token) count, one (source, f) spectrum
    * aggregate (Zipf-bounded: distinct frequencies ≪ vocabulary), a
    * source-PARTITIONED cumulative over the spectrum, a |sources|-row
    * rollup. Output: (source, n_tokens, n_vocab, gini 6dp). */
  def vocabGini(docs: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val tf = docs.select(col(srcCol).as("source"),
        explode(tokens(col(textCol))).as("t"))
      .where(col("t") =!= "")
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("_f"))
    val spec = tf.groupBy(col("source"), col("_f")).agg(count(lit(1)).as("_vf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("_f"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val rows = spec.select(col("source"), col("_f"), col("_vf"),
      (sum(col("_vf")).over(w) - col("_vf")).as("_cumex"))
    val agg0 = rows.groupBy(col("source")).agg(
      sum(col("_f") * col("_vf")).as("n_tokens"),
      sum(col("_vf")).as("n_vocab"),
      sum(col("_f") * (col("_vf") * col("_cumex") +
        shiftright(col("_vf") * (col("_vf") + lit(1L)), 1))).as("_s"))
    val vD = col("n_vocab").cast("double")
    val nD = col("n_tokens").cast("double")
    agg0.select(col("source"), col("n_tokens"), col("n_vocab"),
      round(lit(2.0) * col("_s").cast("double") / (vD * nD) -
        (vD + lit(1.0)) / vD, 6).as("gini"))
  }

  /** Conditional bigram entropy rate H(w₂ǀw₁) — corpus PREDICTABILITY in
    * nats per token: templated/boilerplate text reads LOW (each token
    * pins its successor), natural prose sits mid, random-id junk reads
    * near the unigram ceiling. The sequence-structure companion to
    * [[tokenEntropy]]'s bag-of-words per-doc entropy, and the
    * information-theoretic face of what [[lmScore]]'s model scores:
    * H(w₂ǀw₁) = −Σ_b c_b·ln(c_b/c_ctx)/N over observed bigrams (the MLE
    * plug-in estimate, like every LM row here).
    *
    * Engine-exact: counts integer, ln args single-division chains, per-
    * bigram terms 6dp-DECIMAL (order-free), terminal divisions UNROUNDED.
    * Scale: one bigram count (map-side combined), context totals via a
    * first-token-PARTITIONED window on the vocabulary-sized type table,
    * N on the audited 1-row broadcast. Output: one row (n_bigrams,
    * n_bigram_types, n_contexts, h_rate_nats, h_bigram_nats) —
    * h_bigram − h_rate = H(w₁), so the pair carries the full chain-rule
    * decomposition. */
  def entropyRate(docs: DataFrame, textCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val toks = filter(tokens(col(textCol)), t => t =!= "")
    val cnt = docs.select(explode(ngrams(toks, 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("_c"))
      .withColumn("_w1", split(col("bigram"), " ").getItem(0))
    val withCtx = cnt.withColumn("_cctx", sum(col("_c")).over(W.partitionBy(col("_w1"))))
    val nTot = broadcast(cnt.agg(sum(col("_c")).as("_n")))
    val cD = col("_c").cast("double")
    val agg0 = withCtx.crossJoin(nTot) // 1-row total — audited class
      .select(col("_n"), col("_w1"),
        (col("_c") * round(log(cD / col("_cctx").cast("double")), 6)
          .cast("decimal(18,6)")).as("_hc"),
        (col("_c") * round(log(cD / col("_n").cast("double")), 6)
          .cast("decimal(18,6)")).as("_hb"))
      .agg(max(col("_n")).as("_n"), count(lit(1)).as("n_bigram_types"),
        countDistinct(col("_w1")).as("n_contexts"),
        sum(col("_hc")).as("_hcsum"), sum(col("_hb")).as("_hbsum"))
    val nD = col("_n").cast("double")
    agg0.select(col("_n").as("n_bigrams"), col("n_bigram_types"), col("n_contexts"),
      (lit(0.0) - col("_hcsum").cast("double") / nD).as("h_rate_nats"),
      (lit(0.0) - col("_hbsum").cast("double") / nD).as("h_bigram_nats"))
  }

  /** Mutual information between SOURCE and TOKEN (plus the uncertainty
    * coefficient U = MI/H(source)) — the template/leakage detector: when
    * tokens identify their source (boilerplate headers, injected
    * watermarks, domain-specific markup), MI approaches H(source) and U
    * approaches 1; a well-mixed corpus reads U near 0. The
    * feature-selection view of the same number: how much source identity
    * a bag-of-words model could recover — exactly what a dedup/mixture
    * pipeline wants LOW after cleaning.
    *
    * Count-weighted form: MI = Σ c_st·ln(c_st·N/(c_s·c_t))/N over
    * OBSERVED pairs only (absent pairs contribute 0). Engine-exact: all
    * ln arguments are products/ratios of exact integer-valued doubles
    * (single-op chains), ln rides the 6dp-DECIMAL convention so the
    * pair sum is order-free, and the terminal divisions stay UNROUNDED.
    * Scale: one (source, token) count (map-side combined), marginals via
    * source-/token-PARTITIONED windows on that vocabulary-sized table,
    * N on the audited 1-row broadcast; nothing corpus-sized above the
    * first aggregate. Output: one row (n_pairs, n_tokens, n_sources,
    * mi_nats, h_source, uncertainty_coef). */
  def sourceTokenMi(docs: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val cnt = docs.select(col(srcCol).as("source"),
        explode(tokens(col(textCol))).as("t"))
      .where(col("t") =!= "")
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("_c"))
    val withMarg = cnt
      .withColumn("_cs", sum(col("_c")).over(W.partitionBy(col("source"))))
      .withColumn("_ct", sum(col("_c")).over(W.partitionBy(col("t"))))
    val nTot = broadcast(cnt.agg(sum(col("_c")).as("_n")))
    val cD = col("_c").cast("double")
    val lnArg = cD * col("_n").cast("double") /
      (col("_cs").cast("double") * col("_ct").cast("double"))
    val pairAgg = withMarg.crossJoin(nTot) // 1-row total — audited class
      .select(col("_n"),
        (col("_c") * round(log(lnArg), 6).cast("decimal(18,6)")).as("_mi"))
      .agg(max(col("_n")).as("_n"), count(lit(1)).as("n_pairs"),
        sum(col("_mi")).as("_misum"))
    val srcAgg = cnt.groupBy(col("source")).agg(sum(col("_c")).as("_cs2"))
    val hAgg = srcAgg.crossJoin(nTot) // 1-row total — audited class
      .select((col("_cs2") * round(log(col("_cs2").cast("double") /
          col("_n").cast("double")), 6).cast("decimal(18,6)")).as("_h"))
      .agg(count(lit(1)).as("n_sources"), sum(col("_h")).as("_hsum"))
    val nD = col("_n").cast("double")
    pairAgg.crossJoin(broadcast(hAgg)) // 1-row × 1-row — audited class
      .select(col("n_pairs"), col("_n").as("n_tokens"), col("n_sources"),
        (col("_misum").cast("double") / nD).as("mi_nats"),
        (lit(0.0) - col("_hsum").cast("double") / nD).as("h_source"))
      .withColumn("uncertainty_coef",
        when(col("h_source") > 0, col("mi_nats") / col("h_source")))
  }

  /** Chao1 vocabulary-richness estimate + Good–Turing sample coverage —
    * the crawl-planning pair: Chao1 (Chao 1984/1987, bias-corrected
    * form) estimates how many types EXIST including the unseen ones
    * (V̂ = V + V₁(V₁−1)/(2(V₂+1)) — defined even with no doubletons),
    * and Good–Turing coverage Ĉ = 1 − V₁/N estimates what fraction of
    * the token mass the seen vocabulary already covers. Together they
    * answer "is this source mined out, or does more crawl buy more
    * vocabulary" — the operational question behind [[heapsLaw]]'s
    * growth exponent.
    *
    * Engine-exact: V, V₁, V₂, N are integer sums; chao1 and coverage
    * are single-op double chains emitted UNROUNDED. Scale: one
    * (source, token) count + a ǀsourcesǀ-row rollup, no join, no
    * window. Output: (source, n_tokens, n_vocab, n_hapax,
    * n_doubletons, chao1, coverage). */
  def chao1Richness(docs: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val tf = docs.select(col(srcCol).as("source"),
        explode(tokens(col(textCol))).as("t"))
      .where(col("t") =!= "")
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("_tf"))
    val agg0 = tf.groupBy(col("source")).agg(
      sum(col("_tf")).as("n_tokens"),
      count(lit(1)).as("n_vocab"),
      sum(when(col("_tf") === 1L, 1L).otherwise(0L)).as("n_hapax"),
      sum(when(col("_tf") === 2L, 1L).otherwise(0L)).as("n_doubletons"))
    val v1D = col("n_hapax").cast("double")
    agg0.select(col("source"), col("n_tokens"), col("n_vocab"),
      col("n_hapax"), col("n_doubletons"),
      (col("n_vocab").cast("double") + v1D * (v1D - lit(1.0)) /
        (lit(2.0) * (col("n_doubletons").cast("double") + lit(1.0)))).as("chao1"),
      (lit(1.0) - col("n_hapax").cast("double") / col("n_tokens").cast("double"))
        .as("coverage"))
  }

  /** Per-source lexical diversity: Yule's K (Yule 1944 — the repeat-rate
    * characteristic K = 10⁴·(Σ_f f²·V_f − N)/N², i.e. 10⁴·(Σ tf² − N)/N²),
    * type-token ratio, and hapax ratio. K is the LENGTH-ROBUST diversity
    * constant (TTR decays with corpus size by Heaps' law — [[heapsLaw]] —
    * so comparing sources by TTR alone punishes the big ones; K is scale-
    * stable): templated/boilerplate sources read high K (few types carry
    * the mass), natural prose sits ~100–200, random-id junk reads near 0
    * with hapax_ratio ≈ 1. The third corpus-health axis beside [[zipfFit]]
    * (decay shape) and [[heapsLaw]] (growth rate).
    *
    * Engine-exact: every statistic is INTEGER sums (N, V, V1, Σtf²) down
    * to one or two final correctly-rounded double ops, identically
    * parenthesized in the oracle. Scale: one (source, token) count
    * aggregate (map-side combined), then a |sources|-row rollup — the
    * corpus never shuffles twice. Output: (source, n_tokens, n_vocab,
    * n_hapax, ttr 6dp, hapax_ratio 6dp, yule_k 6dp). */
  def lexicalDiversity(docs: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(srcCol).as("source"),
        explode(tokens(col(textCol))).as("t"))
      .where(col("t") =!= "")
    val tf = toks.groupBy(col("source"), col("t")).agg(count(lit(1)).as("_tf"))
    val agg0 = tf.groupBy(col("source")).agg(
      sum(col("_tf")).as("n_tokens"),
      count(lit(1)).as("n_vocab"),
      sum(when(col("_tf") === 1L, 1L).otherwise(0L)).as("n_hapax"),
      sum(col("_tf") * col("_tf")).as("_f2"))
    val nD = col("n_tokens").cast("double")
    agg0.select(col("source"), col("n_tokens"), col("n_vocab"), col("n_hapax"),
      round(col("n_vocab").cast("double") / nD, 6).as("ttr"),
      round(col("n_hapax").cast("double") / col("n_vocab").cast("double"), 6)
        .as("hapax_ratio"),
      round(lit(10000.0) * (col("_f2") - col("n_tokens")).cast("double") /
        (nD * nD), 6).as("yule_k"))
  }

  /** Jensen–Shannon divergence between each source's unigram distribution
    * and the REST of the corpus — the symmetric, always-finite
    * distributional distance mixture design actually uses (KL explodes on
    * disjoint support; JSD is bounded by ln 2 ≈ 0.693): near 0 the source
    * reads like the pool, near ln 2 it is lexically alien. The
    * DISTRIBUTION-level companion to [[selfBleu]]'s multiset redundancy
    * and the set-Jaccard overlap matrix. JSD(p‖q) = ½KL(p‖m) + ½KL(q‖m),
    * m = (p+q)/2, evaluated in count-weighted form
    * ½·(Σ c_i·ln(p_i/m_i))/n_in + ½·(Σ r_i·ln(q_i/m_i))/n_rest so the
    * per-term weights stay INTEGER and the ln factors ride the 6dp-DECIMAL
    * convention (order-free sums — the lmScore discipline); p/q/m are
    * fixed-parenthesization single-op chains from identical integers.
    *
    * Scale: the rest side is g − c off the global count table — NO
    * source × source pair join exists (the [[selfBleu]]/ksBySource
    * discipline); the |sources| × |vocab| evaluation grid is a cross of
    * two dimension-sized aggregates (absent tokens must still feed the
    * q-side sum), and the totals ride source-partitioned windows. A source
    * holding the whole corpus reads jsd NULL. Output: (source, n_in,
    * n_rest, jsd 6dp). */
  def jsDivergence(docs: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(srcCol).as("source"),
        explode(tokens(col(textCol))).as("t"))
      .where(col("t") =!= "")
    val cnt = toks.groupBy(col("source"), col("t")).agg(count(lit(1)).as("_c"))
    val gv = cnt.groupBy(col("t")).agg(sum(col("_c")).as("_g"))
    val grid = cnt.select(col("source")).distinct()
      .crossJoin(gv) // dimension-sized × vocabulary — the ksBySource grid class
      .join(cnt, Seq("source", "t"), "left")
      .select(col("source"), col("_g"), coalesce(col("_c"), lit(0L)).as("_c"))
      .withColumn("_r", col("_g") - col("_c"))
    val wt = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    val withTot = grid.select(col("source"), col("_c"), col("_r"),
      sum(col("_c")).over(wt).as("_nin"),
      sum(col("_r")).over(wt).as("_nrest"))
    val pd = col("_c").cast("double") / col("_nin").cast("double")
    val qd = when(col("_nrest") > 0,
      col("_r").cast("double") / col("_nrest").cast("double")).otherwise(lit(0.0))
    val terms = withTot
      .select(col("source"), col("_c"), col("_r"), col("_nin"), col("_nrest"),
        pd.as("_p"), qd.as("_q"))
      .withColumn("_m", (col("_p") + col("_q")) / lit(2.0))
      .select(col("source"), col("_nin"), col("_nrest"),
        when(col("_c") > 0, col("_c") *
            round(log(col("_p") / col("_m")), 6).cast("decimal(18,6)"))
          .as("_ta"),
        when(col("_r") > 0, col("_r") *
            round(log(col("_q") / col("_m")), 6).cast("decimal(18,6)"))
          .as("_tb"))
    terms.groupBy(col("source"))
      .agg(max(col("_nin")).as("n_in"), max(col("_nrest")).as("n_rest"),
        when(max(col("_nrest")) > 0,
          round((sum(col("_ta")).cast("double") / max(col("_nin")).cast("double") +
            sum(col("_tb")).cast("double") / max(col("_nrest")).cast("double")) / lit(2.0), 6))
          .as("jsd"))
  }
}
