package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Multimodal, TextAnalysis}
import graft.sources.IngestDiscovery

class TextIngestMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("textQuality computes token/stopword/punct signals") {
    val out = TextAnalysis.textQuality(
      Seq((1L, "the cat, and the dog!")).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Int, Int, Int, Double, Int, Double)].collect().head
    // tokens: the cat, and the dog! -> 5; stopwords: the, and, the -> 3; punct: , !
    assert(out._2 == 21)      // len_chars
    assert(out._3 == 5)       // n_tokens
    assert(out._4 == 3)       // n_stopwords
    assert(out._5 == 0.6)     // stop_ratio
    assert(out._6 == 2)       // n_punct
  }

  test("repetitionFilter: dup/top n-gram fractions, short docs emit no row") {
    val docs = Seq(
      (1L, "a b a b a"),  // bigrams: "a b","b a","a b","b a" -> 4 total, 2 distinct
      (2L, "a b c"),      // bigrams: "a b","b c" -> no repetition
      (3L, "x")           // < 2 tokens -> no grams, no row
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionFilter(docs, "doc_id", "text", 2, 0.2)
      .as[(Long, Long, Long, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((1L, 4L, 2L, 0.5, 0.5, false)))
    assert(out(2L) == ((2L, 2L, 2L, 0.0, 0.5, true)))
  }

  test("bm25TopK ranks higher-tf docs first and skips docs without query terms") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "durian durian")).toDF("doc_id", "text")
    val queries = Seq((100L, "apple")).toDF("qid", "qtext")
    val out = graft.operators.Retrieval
      .bm25TopK(docs, "doc_id", "text", queries, "qid", "qtext", 10)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    // doc 1 (tf=2) outranks doc 2 (tf=1); doc 3 shares no term -> absent
    assert(out.map(r => (r._1, r._2, r._4)).toSeq == Seq((100L, 1L, 1), (100L, 2L, 2)))
    assert(out(0)._3 > out(1)._3 && out(1)._3 > 0)
  }

  test("bm25TopK guards large vocabularies: semi-join prune, identical results") {
    // 40 docs over a 1200-term vocabulary; one query naming 1200 distinct
    // terms — past the inline limit an isin literal list would bloat the
    // plan, so the prune must become a broadcast semi join with the SAME
    // scores and ranking as the inline path.
    val docs = (1L to 40L).map { i =>
      (i, (0 until 30).map(j => s"w${(i * 7 + j * 11) % 1200}").mkString(" "))
    }.toDF("doc_id", "text")
    val queries = Seq((100L, (0 until 1200).map(j => s"w$j").mkString(" ")))
      .toDF("qid", "qtext")
    def run(limit: Int) = graft.operators.Retrieval
      .bm25TopK(docs, "doc_id", "text", queries, "qid", "qtext", 10,
        vocabInlineLimit = limit)
    val guarded = run(1000)
    val plan = guarded.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected broadcast semi-join prune:\n$plan")
    assert(!plan.contains("INSET"), s"vocab still inlined past the limit:\n$plan")
    val a = guarded.as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val b = run(2000).as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }

  test("heapsLaw: exact local OLS replay on a planted power law") {
    // three sources on an exact V = n^0.5 line: (100, 10), (400, 20),
    // (1600, 40) — distinct tokens each repeated to the target count
    def src(name: String, vocab: Int, reps: Int): Seq[(String, String)] =
      Seq((name, (0 until vocab).flatMap(v => Seq.fill(reps)(s"$name$v")).mkString(" ")))
    val docs = (src("a", 10, 10) ++ src("b", 20, 20) ++ src("c", 40, 40))
      .toDF("source", "text")
    val out = TextAnalysis.heapsLaw(docs, "source", "text")
      .as[(Long, Double, Double, Double)].collect().head
    // local replay of the same chain: 6dp-rounded ln points, exact
    // decimal sums, fixed-parenthesization OLS with the rounded slope
    def r6(v: Double): BigDecimal =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val pts = Seq((100, 10), (400, 20), (1600, 40))
      .map { case (nt, nv) => (r6(math.log(nt)), r6(math.log(nv))) }
    val n = pts.size.toDouble
    val sx = pts.map(_._1).sum.toDouble; val sy = pts.map(_._2).sum.toDouble
    val sxy = pts.map(p => p._1 * p._2).sum.toDouble
    val sxx = pts.map(p => p._1 * p._1).sum.toDouble
    val syy = pts.map(p => p._2 * p._2).sum.toDouble
    val num = n * sxy - sx * sy; val dx = n * sxx - sx * sx; val dy = n * syy - sy * sy
    val beta = r6(num / dx).toDouble
    val logK = r6((sy - beta * sx) / n).toDouble
    val r2 = r6((num * num) / (dx * dy)).toDouble
    assert(out == ((3L, beta, logK, r2)), s"got $out, local ($beta, $logK, $r2)")
    // the planted law is recovered: beta ~ 0.5, near-perfect fit
    assert(math.abs(out._2 - 0.5) < 1e-3 && out._4 > 0.9999)
  }

  test("lmStupidBackoff: each backoff branch fires and replays exactly") {
    // model = even ids: doc 0 "a b c a b c", doc 2 "a b d".
    // model counts: N=9; unigrams a:3 b:3 c:2 d:1;
    // bigrams: "a b":3, "b c":2, "c a":1, "b d":1; trigrams:
    // "a b c":2, "b c a":1, "c a b":1, "a b d":1.
    // test = doc 1 "a b c d x": trigrams "a b c" (tri branch: 2/3),
    // "b c d" (bi branch via "c d"? c d unseen; w2w3 = "c d" unseen →
    // uni branch: 0.16·c(d)=1/9), "c d x" (uni: c(x)=0 → floor 0.16·1/9)
    val docs = Seq(
      (0L, "a b c a b c"), (2L, "a b d"), (1L, "a b c d x"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.lmStupidBackoff(docs, "doc_id", "text")
      .as[(Long, Long, Double, Long, Long, Long)].collect()
    assert(out.length == 1)
    val r = out.head
    assert(r._1 == 1L && r._2 == 3L)
    assert((r._4, r._5, r._6) == ((1L, 0L, 2L)),
      s"branch hits wrong: $r")
    def r6(v: Double): BigDecimal =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val lp = r6(math.log(2.0 / 3)) +
      r6(math.log(0.16 * (1.0 / 9))) + r6(math.log(0.16 * (1.0 / 9)))
    assert(r._3 == lp.toDouble,
      s"sum_logscore ${r._3} != replay ${lp.toDouble}")
    // a bigram-branch case: test trigram "b c a" seen? it IS in the
    // model — use "x b c": "x b c" unseen, w2w3 "b c" seen → bi branch
    val docs2 = Seq((0L, "a b c a b c"), (1L, "x b c"))
      .toDF("doc_id", "text")
    val r2 = TextAnalysis.lmStupidBackoff(docs2, "doc_id", "text")
      .as[(Long, Long, Double, Long, Long, Long)].collect().head
    assert((r2._4, r2._5, r2._6) == ((0L, 1L, 0L)))
    assert(r2._3 == r6(math.log(0.4 * (2.0 / 2))).toDouble,
      s"bi-branch sum ${r2._3}") // one trigram: sum == its lp; c("b c")=2, c(b)=2
  }

  test("tokenBurstiness: exact VMR on planted counts; template vs bursty") {
    // 4 docs; "tpl" once per doc (VMR = 0 — perfectly regular);
    // "hot" 4 times in one doc (bursty: mean 1, E[x²] = 4, VMR = 3)
    val docs = Seq(
      (1L, "tpl hot hot hot hot"), (2L, "tpl z"), (3L, "tpl z"), (4L, "tpl"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.tokenBurstiness(docs, "doc_id", "text", 10)
      .as[(String, Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(out("tpl") == (("tpl", 4L, 4L, 1.0, 0.0)))
    assert(out("hot") == (("hot", 4L, 1L, 0.25, 3.0)))
    assert(out("z") == (("z", 2L, 2L, 0.5, 0.5)))
    // top-k cut is deterministic (count desc, token): k=1 keeps the
    // alphabetically-first of the tied leaders
    val top1 = TextAnalysis.tokenBurstiness(docs, "doc_id", "text", 1)
      .as[(String, Long, Long, Double, Double)].collect()
    assert(top1.map(_._1).toSeq == Seq("hot"))
  }

  test("vocabGini: exact spectrum Gini; uniform 0, concentrated high") {
    // s1 frequencies ascending [1,1,2]: G = 2·9/(3·4) − 4/3 = 1/6
    val docs = Seq(("s1", "a b c c"), ("s2", "x x y y"))
      .toDF("source", "text")
    val out = TextAnalysis.vocabGini(docs, "source", "text")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out("s1") == (("s1", 4L, 3L, 0.166667)))
    // all-equal frequencies → G = 0 exactly
    assert(out("s2") == (("s2", 4L, 2L, 0.0)))
    // heavy concentration: one type carries almost everything
    val heavy = Seq(("h", ("w " * 96 + "a b c d").trim)).toDF("source", "text")
    val g = TextAnalysis.vocabGini(heavy, "source", "text")
      .as[(String, Long, Long, Double)].collect().head
    assert(g._2 == 100L && g._3 == 5L && g._4 > 0.7,
      s"concentrated corpus must read high gini: $g")
  }

  test("entropyRate: zero for deterministic sequences, exact replay for branching") {
    def r6(v: Double): BigDecimal =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    // "a b a b a b": every context has ONE successor -> H(w2|w1) = 0
    val det = TextAnalysis.entropyRate(
      Seq(Tuple1("a b a b a b")).toDF("text"), "text")
      .as[(Long, Long, Long, Double, Double)].collect().head
    assert(det._1 == 5L && det._2 == 2L && det._3 == 2L && det._4 == 0.0)
    // h_bigram carries the chain rule: H(w1,w2) with c = {a b: 3, b a: 2}
    val hb = 0.0 - (BigDecimal(3) * r6(math.log(3.0 / 5.0)) +
      BigDecimal(2) * r6(math.log(2.0 / 5.0))).toDouble / 5.0
    assert(det._5 == hb, s"h_bigram ${det._5} != replay $hb")
    // branching context: "x a x b" — x splits 50/50, a is deterministic
    val br = TextAnalysis.entropyRate(
      Seq(Tuple1("x a x b")).toDF("text"), "text")
      .as[(Long, Long, Long, Double, Double)].collect().head
    val hr = 0.0 - (BigDecimal(1) * r6(math.log(1.0 / 2.0)) +
      BigDecimal(1) * r6(math.log(1.0 / 2.0)) +
      BigDecimal(1) * r6(math.log(1.0 / 1.0))).toDouble / 3.0
    assert(br._1 == 3L && br._2 == 3L && br._3 == 2L && br._4 == hr,
      s"h_rate ${br._4} != replay $hr")
  }

  test("sourceTokenMi: zero when independent, U -> 1 when tokens identify sources") {
    // identical distributions: every ln argument is exactly 1 -> MI = 0
    val indep = TextAnalysis.sourceTokenMi(
      Seq(("A", "x y"), ("B", "x y")).toDF("source", "text"), "source", "text")
      .as[(Long, Long, Long, Double, Double, Option[Double])].collect().head
    assert(indep._4 == 0.0 && indep._6 == Some(0.0),
      s"independent corpus must read MI = 0: $indep")
    // disjoint vocabularies: tokens fully identify sources -> MI = H,
    // U = 1 (up to the 6dp ln rounding); exact local replay
    val sep = TextAnalysis.sourceTokenMi(
      Seq(("A", "x x"), ("B", "y")).toDF("source", "text"), "source", "text")
      .as[(Long, Long, Long, Double, Double, Option[Double])].collect().head
    def r6(v: Double): BigDecimal =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    // pairs: (A,x,c=2,cs=2,ct=2), (B,y,c=1,cs=1,ct=1); N=3
    val mi = (BigDecimal(2) * r6(math.log(2.0 * 3.0 / (2.0 * 2.0))) +
      BigDecimal(1) * r6(math.log(1.0 * 3.0 / (1.0 * 1.0)))).toDouble / 3.0
    val h = 0.0 - (BigDecimal(2) * r6(math.log(2.0 / 3.0)) +
      BigDecimal(1) * r6(math.log(1.0 / 3.0))).toDouble / 3.0
    assert(sep._1 == 2L && sep._2 == 3L && sep._3 == 2L)
    assert(sep._4 == mi && sep._5 == h, s"MI/H ${sep._4}/${sep._5} != replay $mi/$h")
    assert(math.abs(sep._6.get - 1.0) < 1e-4,
      s"separating tokens must read U ~ 1: ${sep._6}")
    // a single source carries no identity information: H = 0 -> U NULL
    val solo = TextAnalysis.sourceTokenMi(
      Seq(("A", "x y z")).toDF("source", "text"), "source", "text")
      .as[(Long, Long, Long, Double, Double, Option[Double])].collect().head
    assert(solo._5 == 0.0 && solo._6.isEmpty)
  }

  test("chao1Richness: exact bias-corrected estimate and Good-Turing coverage") {
    // spectrum a:1 b:1 c:2 d:5 -> V=4, V1=2, V2=1, N=9
    // chao1 = 4 + 2*1/(2*2) = 4.5; coverage = 1 - 2/9
    val docs = Seq(("s", "a b c c d d d d d"), ("h", "p q r")).toDF("source", "text")
    val out = TextAnalysis.chao1Richness(docs, "source", "text")
      .as[(String, Long, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("s") == (("s", 9L, 4L, 2L, 1L,
      4.0 + 2.0 * (2.0 - 1.0) / (2.0 * (1.0 + 1.0)), 1.0 - 2.0 / 9.0)))
    // all-hapax source (V2 = 0): the bias-corrected form stays defined —
    // chao1 = 3 + 3*2/2 = 6, coverage = 0 (nothing re-seen yet)
    assert(out("h") == (("h", 3L, 3L, 3L, 0L, 6.0, 0.0)))
  }

  test("lexicalDiversity: exact Yule's K / TTR / hapax on planted counts") {
    // "a a a b b c": N=6, V=3, V1=1, Σtf² = 9+4+1 = 14
    // → K = 10⁴·(14−6)/36 = 2222.222222, TTR = 0.5, hapax = 1/3
    val docs = Seq(("s1", "a a a b b c"), ("s2", "x y"))
      .toDF("source", "text")
    val out = TextAnalysis.lexicalDiversity(docs, "source", "text")
      .as[(String, Long, Long, Long, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(out("s1") == (("s1", 6L, 3L, 1L, 0.5, 0.333333, 2222.222222)))
    // all-hapax source: Σtf² = N → K = 0, TTR = hapax = 1
    assert(out("s2") == (("s2", 2L, 2L, 2L, 1.0, 1.0, 0.0)))
    // NULL/empty texts contribute nothing; repeats split across docs of
    // one source still pool into one vocabulary
    val pooled = TextAnalysis.lexicalDiversity(
      Seq(("s", "a a"), ("s", "a b"), ("s", ""), (null, null))
        .toDF("source", "text"), "source", "text")
      .as[(String, Long, Long, Long, Double, Double, Double)].collect()
      .filter(_._1 == "s").head
    assert(pooled._2 == 4L && pooled._3 == 2L && pooled._4 == 1L)
  }

  test("jsDivergence: zero on matching distributions, ln 2 on disjoint, solo NULL") {
    // identical unigram distributions → p = q = m → jsd = 0 exactly
    val same = TextAnalysis.jsDivergence(
      Seq(("A", "x y"), ("B", "x y x y")).toDF("source", "text"),
      "source", "text")
      .as[(String, Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
    assert(same("A") == (("A", 2L, 4L, Some(0.0))))
    assert(same("B") == (("B", 4L, 2L, Some(0.0))))
    // disjoint vocabularies → the ln 2 ceiling (6dp-rounded per term)
    val disj = TextAnalysis.jsDivergence(
      Seq(("A", "x x"), ("B", "y y")).toDF("source", "text"),
      "source", "text")
      .as[(String, Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
    val ln2 = BigDecimal(math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(disj("A") == (("A", 2L, 2L, Some(ln2))))
    // a source holding the whole corpus: empty complement reads NULL
    val solo = TextAnalysis.jsDivergence(
      Seq(("A", "x y z")).toDF("source", "text"), "source", "text")
      .as[(String, Long, Long, Option[Double])].collect().head
    assert(solo == (("A", 3L, 0L, None)))
  }

  test("rrfFuse: exact reciprocal-rank arithmetic, cross-list boost, tie-break, k cut") {
    val sparse = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3))
      .toDF("query_id", "doc_id", "rank")
    val dense = Seq((1L, 20L, 1), (1L, 40L, 2))
      .toDF("query_id", "doc_id", "rank")
    val out = graft.operators.Retrieval.rrfFuse(Seq(sparse, dense), 10)
      .as[(Long, Long, Int, Double, Int)].collect().sortBy(_._5)
    // contributions are round(1/(60+r), 6) decimal-summed: doc 20 appears
    // on BOTH lists (1/61 + 1/62) and must beat every single-list doc
    def c(r: Int): BigDecimal = BigDecimal(1.0 / (60 + r))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(out.map(r => (r._2, r._3)).toSeq ==
      Seq((20L, 2), (10L, 1), (40L, 1), (30L, 1)))
    assert(out.head._4 == (c(2) + c(1)).toDouble)
    assert(out(1)._4 == c(1).toDouble && out(3)._4 == c(3).toDouble)
    // tie-break: equal fused scores order by doc_id asc — ranks 1 on two
    // disjoint lists tie exactly (same rounded contribution)
    val l1 = Seq((7L, 5L, 1)).toDF("query_id", "doc_id", "rank")
    val l2 = Seq((7L, 3L, 1)).toDF("query_id", "doc_id", "rank")
    val tied = graft.operators.Retrieval.rrfFuse(Seq(l1, l2), 10)
      .as[(Long, Long, Int, Double, Int)].collect().sortBy(_._5)
    assert(tied.map(_._2).toSeq == Seq(3L, 5L))
    // k cut keeps the fused top-k only
    assert(graft.operators.Retrieval.rrfFuse(Seq(sparse, dense), 2).count() == 2)
  }

  test("selfBleu: clipped source-vs-rest precision, identical-source saturation, unique-source NULL") {
    // X = "a a b", Y = "a b b": unigrams — X: min(2, tot(a)−2=1)=1 for a,
    // min(1, 2)=1 for b → clip 2/3; bigrams — X has {"a a","a b"},
    // tot("a b")=2 → clip 1/2
    val docs = Seq(("X", "a a b"), ("Y", "a b b")).toDF("src", "text")
    val out = TextAnalysis.selfBleu(docs, "src", "text", maxN = 2)
      .as[(String, Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(out("X") == (("X", 3L, 2L, 2L, 1L,
      Some((BigDecimal(math.log(2.0 / 3)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        + BigDecimal(math.log(1.0 / 2)).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .toDouble / 2))))
    // two identical sources: every n-gram's rest count >= own count →
    // clip == total at every order → log_p_geo == 0 exactly
    val twin = Seq(("A", "p q r s t"), ("B", "p q r s t")).toDF("src", "text")
    val sat = TextAnalysis.selfBleu(twin, "src", "text", maxN = 4)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(sat("A")._10.contains(0.0) && sat("B")._10.contains(0.0))
    assert(sat("A")._2 == 5L && sat("A")._3 == 5L && sat("A")._8 == 2L && sat("A")._9 == 2L)
    // a source sharing NO vocabulary with the rest: clips are 0, log is
    // undefined → NULL (and a short doc leaves high orders NULL too)
    val mixed = Seq(("U", "zz yy xx ww vv"), ("A", "p q r s t"), ("B", "p q r s t"))
      .toDF("src", "text")
    val u = TextAnalysis.selfBleu(mixed, "src", "text", maxN = 4)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(u("U")._3 == 0L && u("U")._9 == 0L && u("U")._10.isEmpty)
  }

  test("sampleWeighted keeps per-stratum fractions deterministically") {
    val docs = spark.range(0, 4000)
      .select(col("id").as("doc_id"),
        when(col("id") % 2 === 0, "a").otherwise("b").as("src"))
    val out = TextAnalysis.sampleWeighted(docs, "src", "doc_id",
      Map("a" -> 1.0, "b" -> 0.25))
    val bySrc = out.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(bySrc("a") == 2000)                      // weight 1.0 keeps all
    assert(math.abs(bySrc("b") - 500.0) < 80)       // ~25% of 2000, md5-uniform
    // deterministic: the same docs every run
    val again = TextAnalysis.sampleWeighted(docs, "src", "doc_id",
      Map("a" -> 1.0, "b" -> 0.25)).select("doc_id").as[Long].collect().toSet
    assert(again == out.select("doc_id").as[Long].collect().toSet)
    // weight 0 keeps nothing
    assert(TextAnalysis.sampleWeighted(docs, "src", "doc_id",
      Map("a" -> 0.0, "b" -> 0.0)).count() == 0)
  }

  test("corpusShuffle assigns a stable md5-order permutation 1..N") {
    val docs = spark.range(1, 101).select(col("id").as("doc_id"))
    val out = TextAnalysis.corpusShuffle(docs, "doc_id")
    assert(out.select("shuffle_rank").as[Long].collect().sorted.toSeq == (1L to 100L))
    val byId = out.orderBy("doc_id").select("shuffle_rank").as[Long].collect().toSeq
    assert(byId != (1L to 100L)) // actually permuted, not id order
    val again = TextAnalysis.corpusShuffle(docs, "doc_id")
      .orderBy("doc_id").select("shuffle_rank").as[Long].collect().toSeq
    assert(again == byId) // identical permutation on re-run
    // string ids round-trip through the substring recovery (the id rides
    // inside the rank key after the md5 prefix), preserving type and value
    val sdocs = Seq("alpha", "beta-7", "x y z").toDF("doc_id")
    val sout = TextAnalysis.corpusShuffle(sdocs, "doc_id")
    assert(sout.schema("doc_id").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(sout.select("doc_id").as[String].collect().toSet ==
      Set("alpha", "beta-7", "x y z"))
    assert(sout.select("shuffle_rank").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("lmScore computes mean per-token unigram log-prob") {
    val docs = Seq((1L, "a a b"), (2L, "a b")).toDF("doc_id", "text")
    // Corpus: 5 tokens, a=3, b=2. lp(a)=ln(3/5), lp(b)=ln(2/5), rounded 6dp.
    val lpA = BigDecimal(math.log(3.0 / 5)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lpB = BigDecimal(math.log(2.0 / 5)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = TextAnalysis.lmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == 3 && out(2L)._1 == 2)
    assert(math.abs(out(1L)._2 - (2 * lpA + lpB) / 3) < 2e-6)
    assert(math.abs(out(2L)._2 - (lpA + lpB) / 2) < 2e-6)
    // The doc weighted toward the common token scores higher.
    assert(out(1L)._2 > out(2L)._2)
  }

  test("lmBigram scores mean log P(w_i | w_i-1) under corpus MLE bigram counts") {
    val docs = Seq((1L, "a b c"), (2L, "b c b b"), (3L, "z")).toDF("doc_id", "text")
    // Corpus bigrams: doc1 {a b, b c}, doc2 {b c, c b, b b}.
    // Counts: "a b"=1, "b c"=2, "c b"=1, "b b"=1; contexts: a=1, b=3, c=1.
    def lp(p: Double) =
      BigDecimal(math.log(p)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = TextAnalysis.lmBigram(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // Single-token doc has no bigrams and drops out.
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L)._1 == 2 && out(2L)._1 == 3)
    assert(math.abs(out(1L)._2 - (lp(1.0 / 1) + lp(2.0 / 3)) / 2) < 2e-6)
    assert(math.abs(out(2L)._2 - (lp(2.0 / 3) + lp(1.0 / 1) + lp(1.0 / 3)) / 3) < 2e-6)
  }

  test("tokenEntropy: factored Shannon entropy + ratio, zero for one-token-type docs") {
    val docs = Seq((1L, "a a b b"), (2L, "c c c c"), (3L, "a b c d"),
      (4L, Seq.fill(9)("z").mkString(" "))).toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val ln2 = math.log(2)
    assert(out(1L)._1 == 4 && out(1L)._2 == 2)
    assert(math.abs(out(1L)._3 - ln2) < 2e-6)       // uniform over 2 types
    assert(math.abs(out(1L)._4 - 1.0) < 2e-6)       // at its own maximum
    assert(out(2L)._3 == 0.0 && out(2L)._4 == 0.0)  // constant doc
    assert(math.abs(out(3L)._3 - 2 * ln2) < 2e-6)   // uniform over 4 types
    assert(math.abs(out(3L)._4 - 1.0) < 2e-6)
    // 9 identical tokens: round(ln 9, 6) rounds UP, so the factored form
    // lands at round(-4.2e-7, 6) — must normalize to POSITIVE zero
    // (Double.compare distinguishes -0.0, and so does the DuckDB oracle
    // compare's float repr)
    assert(java.lang.Double.compare(out(4L)._3, 0.0) == 0)
    assert(java.lang.Double.compare(out(4L)._4, 0.0) == 0)
  }

  test("ngramNovelty counts corpus-unique distinct shingles per doc") {
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (3L, "x y"), (4L, "q"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // "a b" appears in docs 1 and 2 (df=2); every other bigram is unique.
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((1L, 1L, 1.0)))
    assert(!out.contains(4L)) // below shingle width -> no grams
  }

  test("langId picks the dominant stopword language deterministically") {
    val docs = Seq(
      (1L, "the cat is in the house and it is warm"),
      (2L, "le chat est dans la maison et il est un chat"),
      (3L, "zzz qqq www")).toDF("doc_id", "text")
    val out = TextAnalysis.langId(docs, "doc_id", "text")
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "en", 2L -> "fr", 3L -> "und"))
  }

  test("tokenCounts: whitespace vs BPE-ish regex") {
    val out = TextAnalysis.tokenCounts(
      Seq((1L, "ab12 cd, ef")).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Int, Int)].collect().head
    assert(out._2 == 3) // ws tokens
    assert(out._3 == 5) // ab | 12 | cd | , | ef
  }

  test("fingerprint is stable for identical token streams only") {
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a  b c d e f"), (3L, "u v w x y z")
    ).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(docs, "doc_id", "text", 3)
      .as[(Long, String)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("piiScrub redacts emails, phones, and IPv4 literals") {
    val out = Seq("mail me at jane.doe+x@corp.example.org or call +1 (555) 010-9999 from 10.0.0.17 ok")
      .toDF("t").select(TextAnalysis.piiScrub(col("t"))).as[String].collect().head
    assert(out == "mail me at [EMAIL] or call [PHONE] from [IP] ok")
    // clean text passes through untouched
    val clean = Seq("no personal data here at all").toDF("t")
      .select(TextAnalysis.piiScrub(col("t"))).as[String].collect().head
    assert(clean == "no personal data here at all")
  }

  test("scriptProfile counts disjoint script classes per source; other is exact subtraction") {
    val docs = Seq(
      ("a", "hello world 42"),
      ("a", "Привет 中文 مرحبا"), // cyr6 han2 arab5
      ("b", "naïve café — ok") // accented latin; em-dash = other
    ).toDF("source", "text")
    val g = TextAnalysis.scriptProfile(docs, "source", "text")
      .select("source", "n_chars", "latin_cnt", "digit_cnt", "cyrillic_cnt",
        "han_cnt", "arabic_cnt", "space_cnt", "other_cnt", "non_latin_permille")
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Double)]
      .collect().sortBy(_._1)
    assert(g.toSeq == Seq(
      ("a", 29L, 10L, 2L, 6L, 2L, 5L, 4L, 0L, 13L * 1000.0 / 29.0),
      ("b", 15L, 11L, 0L, 0L, 0L, 0L, 3L, 1L, 1000.0 / 15.0)))
  }

  test("mojibakeGate counts each artifact class and keeps clean text") {
    val docs = Seq(
      (1L, "clean english text with words"),
      (2L, "caf\u00c3\u00a9 d\u00c3\u00a9j\u00c3\u00a0"), // 3 double-UTF8 digraphs
      (3L, "lost \ufffd\ufffd bytes"),                    // 2 replacement chars
      (4L, "cp1252 \u0091quote\u0092 here"),              // 2 C1 controls
      (5L, "")                                          // empty: permille 0, keep
    ).toDF("doc_id", "text")
    val g = TextAnalysis.mojibakeGate(docs, "doc_id", "text")
      .select("doc_id", "repl_cnt", "c1_cnt", "digraph_cnt", "keep")
      .as[(Long, Int, Int, Int, Boolean)].collect().sortBy(_._1)
    assert(g.toSeq == Seq(
      (1L, 0, 0, 0, true),
      (2L, 0, 0, 3, false), // 3 artifacts in 14 chars >> 2 permille
      (3L, 2, 0, 0, false),
      (4L, 0, 2, 0, false),
      (5L, 0, 0, 0, true)))
    // the permille is an exact single division (terminal-op rule)
    val p = TextAnalysis.mojibakeGate(docs, "doc_id", "text")
      .where(col("doc_id") === 3).select("bad_permille")
      .as[Double].collect().head
    assert(p == 2.0 * 1000.0 / 13.0) // "lost \ufffd\ufffd bytes" = 13 chars
  }

  test("Luhn card tier: checksum separates PANs from lookalike digit runs; scrub hits only valid") {
    val docs = Seq(
      (1L, "pay with 4111111111111111 today"),          // valid Visa test PAN
      (2L, "order id 4111111111111112 shipped"),        // checksum-broken twin
      (3L, "card 4111 1111 1111 1111 on file"),         // spaced, valid
      (4L, "amex 378282246310005 ok"),                  // 15-digit valid
      (5L, "ref 12345678901234567890 long"),            // 20 digits: 19-digit prefix candidate, invalid
      (6L, "call +1 555 0100 now"),                     // too short: no candidate
      (7L, "5610591081018250 diners"),                  // another valid vector
      // ADVICE r17: the valid PAN's digits ALSO prefix a longer 17-digit
      // order id in the same document — an unanchored substring replace
      // would mangle the id; the anchored scrub must leave it verbatim
      (8L, "pan 4111111111111111 and id 41111111111111110 x")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.luhnCandidates(docs, "doc_id", "text")
      .select("doc_id", "digits", "valid").as[(Long, String, Boolean)]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "4111111111111111", true),
      (2L, "4111111111111112", false),
      (3L, "4111111111111111", true),
      (4L, "378282246310005", true),
      (5L, "1234567890123456789", false),
      (7L, "5610591081018250", true),
      (8L, "4111111111111111", true),
      (8L, "41111111111111110", false)))
    // the scrub replaces ONLY Luhn-valid spans — the broken twin (an order
    // id to a regex) survives verbatim, the spaced PAN is caught whole
    val scrubbed = docs.select(col("doc_id"), TextAnalysis.piiScrubCards(col("text")).as("s"))
      .as[(Long, String)].collect().toMap
    assert(scrubbed(1L) == "pay with [CARD] today")
    assert(scrubbed(2L) == "order id 4111111111111112 shipped")
    assert(scrubbed(3L) == "card [CARD] on file")
    assert(scrubbed(4L) == "amex [CARD] ok")
    assert(scrubbed(5L) == "ref 12345678901234567890 long")
    assert(scrubbed(6L) == "call +1 555 0100 now")
    assert(scrubbed(7L) == "[CARD] diners")
    // the anchored replace scrubs the standalone PAN but NOT the longer
    // order id it prefixes (the unanchored-replace mangle, ADVICE r17)
    assert(scrubbed(8L) == "pan [CARD] and id 41111111111111110 x")
  }

  test("sampleStratified draws exactly k per stratum, deterministically") {
    val docs = (1L to 40L).map(i => (i, if (i % 2 == 0) "web" else "book")).toDF("doc_id", "source")
    val s1 = TextAnalysis.sampleStratified(docs, "source", "doc_id", 3)
      .as[(Long, String)].collect().sortBy(r => (r._2, r._1))
    val s2 = TextAnalysis.sampleStratified(docs, "source", "doc_id", 3)
      .as[(Long, String)].collect().sortBy(r => (r._2, r._1))
    assert(s1.toSeq == s2.toSeq)
    assert(s1.groupBy(_._2).view.mapValues(_.length).toMap == Map("web" -> 3, "book" -> 3))
  }

  test("samplePriority matches a local brute-force of the DLT scheme exactly") {
    val docs = (1L to 300L).map(i => (i, 10L + (i * 7) % 90)).toDF("doc_id", "w")
    val k = 50
    // local replay: u = (first 13 md5 hex chars + 0.5) / 2^52, q = w / u
    def prio(id: Long, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(md.substring(0, 13), 16)
      w.toDouble / ((h.toDouble + 0.5) / 4503599627370496.0)
    }
    val local = (1L to 300L).map(i => (i, 10L + (i * 7) % 90))
      .map { case (i, w) => (i, w, prio(i, w)) }.sortBy(r => (-r._3, r._1))
    val tau = local(k)._3
    val expect = local.take(k).map { case (i, w, q) =>
      (i, w.toDouble, q, math.max(w.toDouble, tau)) }.toSet
    val out = TextAnalysis.samplePriority(docs, "doc_id", "w", k)
      .as[(Long, Double, Double, Double)].collect().toSet
    assert(out == expect) // bit-exact: selection, priorities, AND estimator
  }

  test("samplePriorityPerStratum: independent exact DLT sample per stratum") {
    // stratum "big" (40 rows) exercises the tau path, "tiny" (3 rows) the
    // whole-population path — both against a local per-stratum brute force
    val rows = (1L to 40L).map(i => ("big", i, 5L + i % 17)) ++
      (101L to 103L).map(i => ("tiny", i, i))
    val docs = rows.toDF("src", "doc_id", "w")
    def prio(id: Long, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(md.substring(0, 13), 16)
      w.toDouble / ((h.toDouble + 0.5) / 4503599627370496.0)
    }
    val k = 10
    val expect = rows.groupBy(_._1).flatMap { case (src, rs) =>
      val ranked = rs.map { case (_, i, w) => (i, w, prio(i, w)) }.sortBy(r => (-r._3, r._1))
      val tau = if (ranked.length > k) Some(ranked(k)._3) else None
      ranked.take(k).map { case (i, w, q) =>
        (src, i, w.toDouble, q, tau.fold(w.toDouble)(t => math.max(w.toDouble, t))) }
    }.toSet
    val out = TextAnalysis.samplePriorityPerStratum(docs, "src", "doc_id", "w", k)
      .as[(String, Long, Double, Double, Double)].collect().toSet
    assert(out == expect)
  }

  test("samplePriority: N <= k returns everything with w_est = weight") {
    val docs = (1L to 8L).map(i => (i, i * 3)).toDF("doc_id", "w")
    val out = TextAnalysis.samplePriority(docs, "doc_id", "w", 20)
      .as[(Long, Double, Double, Double)].collect()
    assert(out.length == 8)
    assert(out.forall { case (_, w, _, est) => est == w })
  }

  test("materializeEpochs: exact local replay of full + partial epochs") {
    val ws = Map("a" -> 2.5, "b" -> 0.75, "c" -> 1.0)
    val rows = (1L to 300L).map(i => (i, Seq("a", "b", "c")((i % 3).toInt)))
    val docs = rows.toDF("doc_id", "src")
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def thr(w: Double) =
      f"${math.max(((w - math.floor(w)) * 4294967296.0).toLong, 0L)}%08x"
    val expect = rows.flatMap { case (id, s) =>
      val w = ws(s); val full = math.floor(w).toInt
      val fulls = (0 until full).map(e => (id, s, e))
      val partial = if (md5hex(s"$id:$full").substring(0, 8) < thr(w))
        Seq((id, s, full)) else Nil
      fulls ++ partial
    }.toSet
    val out = TextAnalysis.materializeEpochs(docs, "src", "doc_id", ws)
      .as[(Long, String, Int)].collect().toSet
    assert(out == expect)
    // partial-epoch coins are per (doc, epoch): stratum "a" keeps ~50% in
    // epoch 2, "b" ~75% in epoch 0, "c" exactly its 100 docs once
    assert(out.count(_._2 == "c") == 100)
  }

  test("seqPack assigns bins by running token budget per stratum") {
    val docs = Seq(
      (1L, "s", "a b c"), (2L, "s", "d e f"), (3L, "s", "g h"), (4L, "t", "x")
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.seqPack(docs, "source", "doc_id", "text", 5)
      .select(col("doc_id"), col("bin")).as[(Long, Long)].collect().toMap
    // s: cum-before = 0, 3, 6 -> bins 0, 0, 1; t: bin 0
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L))
  }

  test("chunkTokens covers every token with the requested overlap") {
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val out = TextAnalysis.chunkTokens(docs, "doc_id", "text", chunkSize = 4, overlap = 1)
      .select(col("chunk_id"), col("chunk_text")).as[(Int, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (0, "t1 t2 t3 t4"), (1, "t4 t5 t6 t7"), (2, "t7 t8 t9 t10")))
    // short doc -> exactly one full-doc chunk
    val one = TextAnalysis.chunkTokens(
      Seq((2L, "a b")).toDF("doc_id", "text"), "doc_id", "text", 4, 1)
      .select(col("chunk_text")).as[String].collect().toSeq
    assert(one == Seq("a b"))
  }

  test("frameSample slices every k-th fixed-size frame with a short tail") {
    val media = Seq((1L, "text/plain", Array.fill[Byte](10)('a'))).toDF("doc_id", "mime", "payload")
    val out = Multimodal.frameSample(media, frameSize = 4, every = 2)
      .select(col("n_frames"), col("frame_idx"), col("frame_bytes"))
      .as[(Int, Int, Int)].collect().sortBy(_._2)
    // 10 bytes / 4 = 3 frames; every 2nd -> idx 0 (4 bytes) and idx 2 (2-byte tail)
    assert(out.toSeq == Seq((3, 0, 4), (3, 2, 2)))
  }

  test("quantizeInt8 maps absmax to +/-127 and zero to 0") {
    val out = Seq(Seq(0.5, -1.0, 0.0, 0.25)).toDF("v")
      .select(graft.operators.Similarity.quantizeInt8(col("v")))
      .as[Seq[Int]].collect().head
    assert(out == Seq(64, -127, 0, 32))
  }

  test("inferEntityType strips suffixes and maps known stems") {
    assert(IngestDiscovery.inferEntityType("khachhang") == "khach_hang")
    assert(IngestDiscovery.inferEntityType("nguyen_lieu_tbl") == "nguyen_lieu")
    assert(IngestDiscovery.inferEntityType("lineitem") == "line_item")
    assert(IngestDiscovery.inferEntityType("mystery_table") == "mystery_table")
  }

  test("discover lists files with inferred entities, readCsv+staged round-trips") {
    val dir = SparkSpec.tempDir("graft_disc").toFile
    val csv = new java.io.File(dir, "khachhang.csv")
    Files.write(csv.toPath, "id,name\n1,An\n2,Binh\n".getBytes("UTF-8"))
    val disc = IngestDiscovery.discover(spark, dir.getAbsolutePath)
      .as[(String, String, String, String)].collect()
    assert(disc.toSeq == Seq(("khachhang.csv", "khach_hang", "csv", "staging.khach_hang_tbl")))
    // a scheme-qualified dir lists through its own Hadoop FS, not java.io.File
    assert(dir.toURI.toString.startsWith("file:"))
    assert(IngestDiscovery.discover(spark, dir.toURI.toString)
      .as[(String, String, String, String)].collect().toSeq == disc.toSeq)

    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))
    val staged = IngestDiscovery.staged(
      IngestDiscovery.readCsv(spark, csv.getAbsolutePath, schema),
      "csv", "run_t", "2026-01-01 00:00:00")
    val rows = staged.select("id", "name", "_source", "_run_id").as[(Int, String, String, String)]
      .collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1, "An", "csv", "run_t"), (2, "Binh", "csv", "run_t")))
  }

  test("compaction rewrites a many-file zone into its planned file count, in place") {
    import graft.sources.Compaction
    val dir = SparkSpec.tempDir("graft_compact").toFile.getAbsolutePath + "/zone"
    spark.range(0, 10000).select(col("id"), (col("id") % 7).as("k"))
      .repartition(20).write.parquet(dir)  // streaming-sink decay: 20 small files
    val (bytes, before) = Compaction.footprint(spark, dir)
    assert(before == 20)
    val (b2, a2) = Compaction.compact(spark, dir, targetBytes = bytes) // fits in one
    assert(b2 == 20 && a2 == 1)
    assert(spark.read.parquet(dir).count() == 10000)
    // sorted rewrite: range-partitioned on k, two files, content intact
    val (_, a3) = Compaction.compact(spark, dir,
      targetBytes = math.max(1L, Compaction.footprint(spark, dir)._1 / 2), sortBy = Seq("k"))
    assert(a3 >= 2)
    def full(d: String): Boolean =
      spark.read.parquet(d).agg(count(lit(1)), sum("id")).as[(Long, Long)].head() ==
        ((10000L, (0L until 10000L).sum))
    assert(full(dir))

    // a scheme-qualified dir is listed and swapped through its own Hadoop FS
    val uri = new java.io.File(dir).toURI.toString
    assert(uri.startsWith("file:") && Compaction.footprint(spark, uri) ==
      Compaction.footprint(spark, dir))
    assert(Compaction.compact(spark, uri, targetBytes = 1L << 30) == ((a3, 1)) && full(dir))

    // every crash window of the swap leaves a dir the next compact rewrites
    // to the full table, with no swap sibling left behind
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def partialTmp(): Unit = { // a write that died mid-way
      fs.mkdirs(p(s"$dir.swap.tmp"))
      fs.create(p(s"$dir.swap.tmp/part-00000-dead.parquet")).close()
    }
    def compactsWhole(window: String): Unit = {
      val (_, after) = Compaction.compact(spark, dir, targetBytes = 1L << 30)
      assert(after == 1 && full(dir), window)
      assert(!fs.exists(p(s"$dir.swap.tmp")) && !fs.exists(p(s"$dir.swap.prev")), window)
    }
    partialTmp() // before retire: the live dir is intact
    compactsWhole("partial tmp, before retire")
    assert(fs.rename(p(dir), p(s"$dir.swap.prev"))) // retired, not promoted
    partialTmp()
    compactsWhole("between retire and promote")
    fs.mkdirs(p(s"$dir.swap.prev")) // after promote: a stale prev
    compactsWhole("after promote")
  }

  test("shardTokenBudget cuts the md5 order into token-balanced shards, written per-dir") {
    // 400 docs, token counts 1..8 → total ~1800 tokens over 4 shards
    val docs = spark.range(0, 400)
      .select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), (col("id") % 8 + 1).cast("int")),
          i => concat(lit("w"), i))).as("text"))
      .repartition(8)
    val out = TextAnalysis.shardTokenBudget(docs, "doc_id", "text", 4)
    val rows = out.select("doc_id", "n_tokens", "shard").as[(Long, Long, Int)].collect()
    assert(rows.length == 400 && rows.map(_._1).distinct.length == 400)
    val perShard = rows.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    assert(perShard.keySet == Set(0, 1, 2, 3))
    val total = rows.map(_._2).sum
    val budget = math.ceil(total / 4.0)
    // each shard holds at most budget + one doc's tokens (greedy boundary)
    assert(perShard.values.forall(_ <= budget + 8))
    // shards tile the md5 order contiguously: sort by shuffle key → shard ids ascend
    val byKey = rows.sortBy { case (id, _, _) =>
      org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString) + id.toString }
    assert(byKey.map(_._3).sliding(2).forall(p => p.head <= p.last))
    // write path: one directory per shard, full round trip
    val dir = SparkSpec.tempDir("graft_shards").toFile.getAbsolutePath + "/corpus"
    docs.join(out.select("doc_id", "shard"), "doc_id")
      .write.partitionBy("shard").parquet(dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("shard=")) == 4)
    assert(spark.read.parquet(dir).count() == 400)
  }

  test("sourceCap keeps at most k docs per source, deterministically") {
    val docs = (1L to 30L).map(i => (i, s"src${i % 3}", "t")).toDF("doc_id", "source", "text")
    val out = TextAnalysis.sourceCap(docs, "doc_id", "source", 4)
      .select("doc_id", "source", "src_rank").as[(Long, String, Int)].collect()
    assert(out.length == 12)
    assert(out.groupBy(_._2).forall { case (_, rs) => rs.map(_._3).sorted.toSeq == Seq(1, 2, 3, 4) })
    // deterministic: a second run keeps the identical survivor set
    val again = TextAnalysis.sourceCap(docs, "doc_id", "source", 4)
      .select("doc_id").as[Long].collect().toSet
    assert(again == out.map(_._1).toSet)
  }

  test("corpusGate joins ordered reasons and a keep decision per doc") {
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    // 80 tokens, every bigram distinct (each pair touches a unique wN),
    // stopword ratio 0.5 — passes every gate
    val good = (1 to 40).map(i => s"w$i ${stops(i % stops.length)}").mkString(" ")
    val docs = Seq(
      (1L, good),
      (2L, "just a few words here"),                       // too_short
      (3L, (1 to 40).map(i => s"x$i").mkString(" ")),      // no stopwords
      (4L, Seq.fill(60)("spam ham").mkString(" "))         // repetitive + stopword-free
    ).toDF("doc_id", "text")
    val out = TextAnalysis.corpusGate(docs, "doc_id", "text", 30, 0.05, 0.2)
      .select("doc_id", "_reasons", "keep").as[(Long, String, Boolean)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == ("", true))
    assert(out(2L) == ("too_short", false))
    assert(out(3L) == ("low_stopword_ratio", false))
    assert(out(4L) == ("low_stopword_ratio | repetitive", false))
    // caller-supplied repetition pass: byte-identical gate output, one
    // fewer corpus explode for pipelines that already ran repetitionFilter
    val rep = TextAnalysis.repetitionFilter(docs, "doc_id", "text", 2, 0.2)
    val shared = TextAnalysis.corpusGate(docs, "doc_id", "text", 30, 0.05, 0.2,
        repetition = Some(rep))
      .select("doc_id", "_reasons", "keep").as[(Long, String, Boolean)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(shared == out)
  }

  test("blocklistGate matches tokens, never substrings (the Scunthorpe guard)") {
    val docs = Seq(
      (1L, "clean data batch table"),        // "a" inside data/batch/table only
      (2L, "a data pipeline"),               // bare "a" token → blocked
      (3L, "slow merge slow join dup"),      // occurrences count, terms dedup+sort
      (4L, "")                               // empty doc → clean
    ).toDF("doc_id", "text")
    val out = TextAnalysis.blocklistGate(docs, "doc_id", "text",
        Seq("a", "dup", "slow", "vile"))
      .select("doc_id", "n_blocked", "blocked_terms", "keep")
      .as[(Long, Int, String, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // the substring form would block doc 1 (three words CONTAIN "a");
    // token matching keeps it — C4's gate is a word filter, not a grep
    assert(out(1L) == ((0, "", true)))
    assert(out(2L) == ((1, "a", false)))
    // 3 = two "slow" + one "dup"; terms are distinct and sorted
    assert(out(3L) == ((3, "dup,slow", false)))
    assert(out(4L) == ((0, "", true)))
    // "vile" never occurs: a listed-but-absent term flags nothing
    assert(out.values.forall(!_._2.contains("vile")))
  }

  test("tokenLengthHistogram bands docs by power-of-two token counts") {
    val docs = Seq("a", "a b c", "a b c d", "w x y z u v q r").toDF("text")
    // counts 1, 3, 4, 8 → buckets 0, 1, 2, 3
    val out = TextAnalysis.tokenLengthHistogram(docs, "text")
      .select("bucket", "n_docs", "sum_tokens", "band_lo")
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((0, 1L, 1L, 1L), (1, 1L, 3L, 2L), (2, 1L, 4L, 4L), (3, 1L, 8L, 8L)))
  }

  test("centroidOutliers flags vectors pointing away from their label's prototype") {
    val mk = (xs: Seq[Double]) => xs.toArray
    val vecs = Seq(
      (1L, 0, mk(Seq(1.0, 0.1))), (2L, 0, mk(Seq(1.0, -0.1))), (3L, 0, mk(Seq(0.9, 0.0))),
      (4L, 0, mk(Seq(-1.0, 0.0))),                       // label-0 outlier
      (5L, 1, mk(Seq(0.0, 1.0))), (6L, 1, mk(Seq(0.1, 1.0)))
    ).toDF("vec_id", "label", "embedding")
    val out = graft.operators.Similarity
      .centroidOutliers(vecs, "vec_id", "label", "embedding", 0.0)
      .select("vec_id", "is_outlier").as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> false, 2L -> false, 3L -> false, 4L -> true,
      5L -> false, 6L -> false))
  }

  test("nfc normalization composes combining characters") {
    val decomposed = "e\u0301clair" // e + combining acute (7 chars)
    val precomposed = "\u00e9clair"  // precomposed e-acute (6 chars)
    val out = Seq((1L, decomposed), (2L, "plain")).toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.NativeExprs.nfcNormalize(col("text")).as("nfc"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == precomposed)
    assert(out(1L).length == decomposed.length - 1)
    assert(out(2L) == "plain")
  }

  test("writeZone lays out <root>/<zone>/<entity> in the requested format") {
    val root = SparkSpec.tempDir("graft_zone").toFile.getAbsolutePath
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val p1 = IngestDiscovery.writeZone(df, root, "clean", "orders")
    val p2 = IngestDiscovery.writeZone(df, root, "error", "orders", "csv")
    val p3 = IngestDiscovery.writeZone(df, root, "report", "orders", "json")
    val p4 = IngestDiscovery.writeZone(df, root, "archive", "orders", "orc")
    assert(p1 == s"$root/clean/orders" && p2 == s"$root/error/orders")
    assert(spark.read.parquet(p1).count() == 2)
    assert(spark.read.option("header", "true").csv(p2).count() == 2)
    assert(spark.read.json(p3).count() == 2)
    assert(spark.read.orc(p4).select("id", "v").as[(Int, String)].collect().toSet
      == Set((1, "a"), (2, "b")))
  }

  test("GraftSession.tune applies runtime confs") {
    GraftSession.tune(spark, Some(2))
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "2")
  }

  test("multimodal: pack -> meta -> stub decode keeps schema and determinism") {
    val docs = Seq((1L, "hello"), (2L, "world!")).toDF("doc_id", "text")
    val media = Multimodal.packBinary(docs, "doc_id", "text")
    val meta = Multimodal.metaTable(media)
      .select("doc_id", "n_bytes").as[(Long, Int)].collect().toMap
    assert(meta == Map(1L -> 5, 2L -> 6))

    val feats = Multimodal.decodeFeatures(spark, media, dim = 8).collect().sortBy(_.doc_id)
    assert(feats.length == 2)
    assert(feats.forall(_.feature.length == 8))
    assert(math.abs(feats.head.feature.sum - 1.0f) < 1e-5) // L1-normalized histogram
    // deterministic: same payload -> same features
    val again = Multimodal.decodeFeatures(spark, media, dim = 8).collect().sortBy(_.doc_id)
    assert(feats.map(_.feature.toSeq).toSeq == again.map(_.feature.toSeq).toSeq)
  }

  test("tfidfTop ranks corpus-rare terms above ubiquitous ones") {
    val docs = Seq(
      (1L, "apple apple banana common"),
      (2L, "banana cherry common"),
      (3L, "common common date")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTop(docs, "doc_id", "text", 2)
      .select("doc_id", "token", "tf", "df", "tfidf", "rank")
      .as[(Long, String, Long, Long, Double, Int)].collect()
    assert(out.length == 6) // k=2 per doc
    val d1 = out.filter(_._1 == 1L).sortBy(_._6)
    // apple: tf=2, df=1 -> 2*ln(3); banana: tf=1, df=2 -> ln(1.5);
    // common: df=3 -> idf 0, never beats either
    assert(d1.map(_._2).toSeq == Seq("apple", "banana"))
    assert(d1.head._3 == 2L && d1.head._4 == 1L)
    assert(d1.head._5 == 2.197224) // 2 * round(ln 3, 6) = 2 * 1.098612
    // doc 3: "date" (df=1) outranks "common" despite tf 1 vs 2
    assert(out.filter(_._1 == 3L).minBy(_._6)._2 == "date")
  }

  test("mixWeights maps token shares to target-over-actual weights") {
    val docs = Seq(
      ("en", "a b c d e f"), ("en", "g h"), // 8 tokens
      ("zh", "x y"), // 2 tokens
      ("xx", "q q")) // 2 tokens, NOT in the target map
      .toDF("lang", "text")
    val out = TextAnalysis.mixWeights(docs, "lang", "text",
      Map("en" -> 0.5, "zh" -> 0.5))
      .select("stratum", "n_docs", "n_tokens", "actual_share", "target_share", "weight")
      .as[(String, Long, Long, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(out("en")._2 == 2L && out("en")._3 == 8L)
    assert(out("en")._4 == 0.666667) // round(8/12, 6)
    assert(out("zh")._6 == 3.0) // target 0.5 / actual 1/6
    assert(out("xx")._5 == 0.0 && out("xx")._6 == 0.0) // absent stratum -> 0
  }

  test("dsirWeights ranks target-like docs above off-domain docs") {
    // target domain: a small shared vocabulary; off-domain: disjoint words
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta", true),
      (2L, "beta gamma delta alpha gamma", true),
      (3L, "alpha beta gamma delta beta", false),  // target-like but unlabeled
      (4L, "zebra quark lemon vortex crumb", false) // off-domain
    ).toDF("doc_id", "text", "is_t")
    val out = TextAnalysis.dsirWeights(docs, "doc_id", "text", col("is_t"), 64)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // feature count: n unigrams + (n-1) bigrams
    assert(out.values.forall(_._2 == 9L))
    // the unlabeled target-like doc must outscore the off-domain doc,
    // and the labeled target docs must too
    assert(out(3L)._3 > out(4L)._3)
    assert(math.min(out(1L)._3, out(2L)._3) > out(4L)._3)
    // deterministic under re-evaluation (hash model, no RNG)
    val again = TextAnalysis.dsirWeights(docs, "doc_id", "text", col("is_t"), 64)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(again == out)
  }

  test("dsirWeights smoothing keeps unseen-bucket docs finite and every doc scored") {
    val docs = Seq(
      (1L, "only target words here now", true),
      (2L, "totally different vocabulary outside", false),
      (3L, "", false) // empty text: one ''-token feature, still scored
    ).toDF("doc_id", "text", "is_t")
    val out = TextAnalysis.dsirWeights(docs, "doc_id", "text", col("is_t"), 32)
      .as[(Long, Long, Double)].collect()
    assert(out.length == 3)
    assert(out.forall(r => !r._3.isNaN && !r._3.isInfinite))
  }

  test("hashClassifier: exact local replay, kept = logit > 0, zero shuffles") {
    // dyadic pinned weights (denominator 2^32): every partial sum is exact
    // in double, so the engine fold must equal a local fold BITWISE
    val weights = Array.tabulate(64) { b =>
      ((b.toLong * 2654435761L) % 4294967296L).toDouble / 4294967296.0 - 0.5
    }
    val docs = Seq((1L, "alpha"), (2L, "alpha beta"),
      (3L, "gamma delta epsilon gamma")).toDF("doc_id", "text")
    val q = TextAnalysis.hashClassifier(docs, "doc_id", "text", weights)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "classifier inference must be a pure projection (no shuffle)")
    // Round-14 regression class: a featureless-doc filter expressed on the
    // projected _grams alias gets predicate-pushed below the projection
    // and re-derives the full tokenize+ngram expression in a non-fused
    // Filter (7× quality_classify). Pin: any Filter node in the plan must
    // be the cheap IsNotNull form, never a tokenizer re-derivation.
    plan.linesIterator.filter(_.contains("Filter")).foreach { l =>
      assert(!l.contains("split("),
        s"Filter re-derives the tokenizer (pushed-alias regression): $l")
    }
    val out = q.as[(Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    def bucket(g: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8"))
      val hex = md.take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 64).toInt
    }
    def replay(gs: Seq[String]): Double =
      gs.map(g => weights(bucket(g))).sum / gs.size
    assert(out(1L)._2 == 1L && out(1L)._3 == replay(Seq("alpha")))
    assert(out(2L)._2 == 3L &&
      out(2L)._3 == replay(Seq("alpha", "beta", "alpha beta")))
    assert(out(3L)._2 == 7L && out(3L)._3 == replay(Seq(
      "gamma", "delta", "epsilon", "gamma",
      "gamma delta", "delta epsilon", "epsilon gamma")))
    out.values.foreach(r => assert(r._4 == (r._3 > 0.0)))
  }

  test("hashClassifier carriers agree bitwise: literal array vs broadcast join") {
    val weights = Array.tabulate(64) { b =>
      ((b.toLong * 2654435761L) % 4294967296L).toDouble / 4294967296.0 - 0.5
    }
    // doc 4 has NULL text (no gram array): BOTH carriers must drop it —
    // the broadcast carrier structurally (explode), the literal carrier
    // via its explicit featureless-doc filter
    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta"),
      (3L, "epsilon zeta eta theta iota"), (4L, null: String))
      .toDF("doc_id", "text")
    def rows(budget: Int) =
      TextAnalysis.hashClassifier(docs, "doc_id", "text", weights,
          literalBudget = budget)
        .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    // budget 1 forces the broadcast-join carrier; dyadic weights make the
    // per-doc sum order-independent, so the logits must match BITWISE
    val lit8k = rows(8192)
    assert(lit8k == rows(1))
    assert(lit8k.map(_._1) == Seq(1L, 2L, 3L), "NULL-text doc must be absent")
  }

  test("domainGate keeps big mostly-clean sources, drops small or dirty ones") {
    val weights = Array.tabulate(64) { b =>
      ((b.toLong * 2654435761L) % 4294967296L).toDouble / 4294967296.0 - 0.5
    }
    val docs = Seq(
      (1L, "alpha beta", "A", 9L), (2L, "gamma delta", "A", 11L),
      (3L, "epsilon zeta", "A", 13L), (4L, "eta theta", "B", 8L),
      (5L, "iota kappa", "B", 10L), (6L, "lambda mu", "C", 7L)
    ).toDF("doc_id", "text", "src", "n_chars")
    val q = TextAnalysis.domainGate(docs, "doc_id", "text", "src", "n_chars",
      weights, minDocs = 3L, minKeepRate = 0.4)
    assert("Exchange".r.findAllIn(q.queryExecution.executedPlan.toString)
      .length == 1, "only the per-source aggregate may shuffle")
    val out = q.as[(String, Long, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // local expectation from the per-doc classifier verdicts themselves
    val perDoc = TextAnalysis.hashClassifier(docs, "doc_id", "text", weights,
        carry = Seq("src"))
      .select("src", "kept").as[(String, Boolean)].collect().groupBy(_._1)
    for ((src, rows) <- perDoc) {
      val n = rows.length; val nk = rows.count(_._2)
      assert(out(src)._2 == n && out(src)._4 == nk.toDouble / n)
      assert(out(src)._5 == (n >= 3 && nk.toDouble / n > 0.4))
    }
    assert(!out("C")._5, "below-minDocs source must never be kept")
    assert(out("A")._3 == (9 + 11 + 13).toDouble / 3)
  }

  test("CMS merge law: sketch(A union B) == cell-wise sum of the two sketches") {
    val a = Seq("aa aa bb cc", "dd aa").toDF("text")
    val b = Seq("bb cc cc ee", "aa ff ff").toDF("text")
    val ab = a.unionByName(b)
    def cells(df: org.apache.spark.sql.DataFrame): Map[(Int, Long), Long] =
      TextAnalysis.cmsSketch(df, "text").as[(Int, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    val ca = cells(a); val cb = cells(b)
    val merged = (ca.keySet ++ cb.keySet).map(k =>
      k -> (ca.getOrElse(k, 0L) + cb.getOrElse(k, 0L))).toMap
    assert(cells(ab) == merged,
      "CMS cells must merge by EXACT cell-wise sum — no approximation at merge")
  }

  test("HLL: register merge law, duplicate-insensitivity, estimate error bound") {
    def regs(df: org.apache.spark.sql.DataFrame): Map[Int, Int] =
      TextAnalysis.hllRegisters(df, "text").as[(Int, Int)].collect().toMap
    val a = Seq("aa bb cc dd", "ee aa").toDF("text")
    val b = Seq("bb ff gg", "hh ii aa").toDF("text")
    // merge law: registers(A ∪ B) == register-wise max — the roll-up
    // property that lets per-shard sketches combine without re-reading
    val ra = regs(a); val rb = regs(b)
    val merged = (ra.keySet ++ rb.keySet).map(k =>
      k -> math.max(ra.getOrElse(k, 0), rb.getOrElse(k, 0))).toMap
    assert(regs(a.unionByName(b)) == merged)
    // cardinality sketches must ignore multiplicity: max is idempotent
    val dups = Seq("aa aa aa bb", "bb aa bb cc dd dd", "ee ee aa").toDF("text")
    assert(regs(dups) == regs(Seq("aa bb cc dd ee").toDF("text")))
    // every register in range; ρ = 33 only possible for w = 0
    assert(regs(dups).values.forall(r => r >= 1 && r <= 33))
    // estimate: 3000 planted distinct tokens; HLL at m=256 has relative
    // σ ≈ 1.04/16 ≈ 6.5% — gate at ~3.5σ
    val k = 3000
    val big = (0 until k).grouped(50)
      .map(g => g.map(i => s"tok$i").mkString(" ")).toSeq.toDF("text")
    val est = TextAnalysis.hllEstimate(big, "text")
      .as[(Int, Int, Int, Double, Double)].collect().head
    assert(est._1 == 256 && est._2 + est._3 == 256)
    assert(math.abs(est._5 - k) / k.toDouble <= 0.25,
      s"HLL estimate ${est._5} too far from true $k")
    // grouped form: each source's row equals the global estimate of its
    // slice (the zipf_by_source parity contract)
    val mixed = Seq(("A", "aa bb cc"), ("A", "dd aa"), ("B", "xx yy"),
      ("B", "yy zz aa")).toDF("source", "text")
    val bySrc = TextAnalysis.hllEstimateBy(mixed, Seq("source"), "text")
      .as[(String, Int, Int, Int, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6)).toMap
    for (src <- Seq("A", "B")) {
      val slice = TextAnalysis.hllEstimate(
        mixed.where(col("source") === src), "text")
        .as[(Int, Int, Int, Double, Double)].collect().head
      assert(bySrc(src) == slice, s"per-source $src != global-on-slice")
    }
  }

  test("hllSetOps: union == union-slice estimate (merge law), intersection tracks overlap") {
    def mk(r: Range, src: String): Seq[(String, String)] =
      r.grouped(50).map(g => (src, g.map(i => s"t$i").mkString(" "))).toSeq
    // A = t0..t999, B = t500..t1499 → true ∩ = 500, ∪ = 1500
    val docs = (mk(0 until 1000, "A") ++ mk(500 until 1500, "B")).toDF("source", "text")
    val out = TextAnalysis.hllSetOps(docs, "source", "text")
      .as[(String, String, Double, Double, Double, Double)].collect()
    assert(out.length == 1)
    val (sa, sb, ea, eb, eu, ei) = out.head
    assert(sa == "A" && sb == "B")
    // the max merge law makes the pair's union registers EXACTLY the
    // union slice's sketch — the estimates must be EQUAL, not close
    def globalEst(df: org.apache.spark.sql.DataFrame): Double =
      TextAnalysis.hllEstimate(df, "text").select("est").as[Double].collect().head
    assert(eu == globalEst(docs), "union estimate must equal the union slice's")
    assert(ea == globalEst(docs.where(col("source") === "A")))
    assert(eb == globalEst(docs.where(col("source") === "B")))
    // inclusion–exclusion identity and estimator accuracy on the plant
    assert(ei == BigDecimal(ea + eb - eu)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(math.abs(ea - 1000) / 1000.0 <= 0.25 && math.abs(eu - 1500) / 1500.0 <= 0.25)
    assert(math.abs(ei - 500) <= 250,
      s"intersection estimate $ei too far from the planted 500")
  }

  test("zipfTheilSen: exact local median-of-slopes replay; robust where OLS is dragged") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // local reference: same rounded points, same lower-median conventions
    def ref(freqs: Seq[Long]): (Double, Double) = {
      val pts = freqs.zipWithIndex.map { case (f, i) =>
        (i + 1, r6(math.log(i + 1.0)), r6(math.log(f.toDouble))) }
      val slopes = (for {
        (ra, xa, ya) <- pts; (rb, xb, yb) <- pts
        if ra < rb && xa != xb
      } yield ((yb - ya) / (xb - xa), ra, rb))
        .sortBy(t => (t._1, t._2, t._3))
      val slope = r6(slopes((slopes.size + 1) / 2 - 1)._1)
      val res = pts.map { case (r, x, y) => (y - slope * x, r) }
        .sortBy(identity)
      (slope, r6(res((pts.size + 1) / 2 - 1)._1))
    }
    def run(freqs: Seq[Long]): (Long, Long, Double, Double) = {
      val text = freqs.zipWithIndex
        .flatMap { case (f, k) => Seq.fill(f.toInt)(s"t$k") }.mkString(" ")
      TextAnalysis.zipfTheilSen(Seq(text).toDF("text"), "text")
        .as[(Long, Long, Double, Double)].collect().head
    }
    // geometric corpus (the zipfFit spec's shape): exact replay
    val freqs = (0 until 8).map(k => (1L << (8 - k)))
    val clean = run(freqs)
    val (s0, i0) = ref(freqs)
    assert(clean._1 == 8L && clean._2 == 28L)
    assert(clean._3 == s0 && clean._4 == i0, s"got $clean want ($s0, $i0)")
    // robustness: one corrupted head frequency (a boilerplate token at
    // 100× its Zipf weight) barely moves the slope MEDIAN while the OLS
    // slope is dragged — the estimator's reason to exist
    val dirty = freqs.updated(2, 6400L).sortBy(-_)
    val tsDirty = run(dirty)._3
    def ols(fs: Seq[Long]): Double = {
      val text = fs.zipWithIndex
        .flatMap { case (f, k) => Seq.fill(f.toInt)(s"t$k") }.mkString(" ")
      TextAnalysis.zipfFit(Seq(text).toDF("text"), "text")
        .select("slope").as[Double].collect().head
    }
    val olsShift = math.abs(ols(dirty) - ols(freqs))
    val tsShift = math.abs(tsDirty - clean._3)
    assert(tsShift < olsShift,
      s"Theil–Sen shift $tsShift should be under the OLS shift $olsShift")
  }

  test("zipfFit: exact local OLS replay; geometric corpus fits with slope < 0") {
    // token t_k appears 2^(8-k) times -> freq halves every rank step:
    // ln f = ln 256 - (rank-1) ln 2, strongly Zipf-like in shape
    val text = (0 until 8).flatMap(k => Seq.fill(1 << (8 - k))(s"t$k")).mkString(" ")
    val docs = Seq(text).toDF("text")
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // local replay: same rounding, DECIMAL-exact sums, same closed forms
    val freqs = (0 until 8).map(k => (1 << (8 - k)).toLong) // rank order
    val xs = freqs.indices.map(i => BigDecimal(r6(math.log(i + 1.0))).setScale(6))
    val ys = freqs.map(f => BigDecimal(r6(math.log(f.toDouble))).setScale(6))
    val n = freqs.size.toDouble
    val sx = xs.sum.toDouble; val sy = ys.sum.toDouble
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum.toDouble
    val sxx = xs.map(a => a * a).sum.toDouble
    val syy = ys.map(b => b * b).sum.toDouble
    val num = n * sxy - sx * sy
    val dx = n * sxx - sx * sx
    val dy = n * syy - sy * sy
    val slope = r6(num / dx)
    val intercept = r6((sy - slope * sx) / n)
    val r2 = r6((num * num) / (dx * dy))
    val out = TextAnalysis.zipfFit(docs, "text", topK = 1000)
      .as[(Long, Double, Double, Double)].collect()
    assert(out.length == 1)
    val (nr, s, ic, rr) = out.head
    assert(nr == 8L)
    assert(s == slope && ic == intercept && rr == r2,
      s"engine ($s, $ic, $rr) must replay local ($slope, $intercept, $r2)")
    assert(s < 0.0 && rr > 0.9, "geometric frequencies fit a negative slope well")
  }

  test("zipfFitBySource: each source row equals the global fit on its slice") {
    val geo = (0 until 8).flatMap(k => Seq.fill(1 << (8 - k))(s"g$k")).mkString(" ")
    // near-flat head (freqs 4,4,4,3): the boilerplate-flood signature
    val flat = (Seq.fill(4)("f0") ++ Seq.fill(4)("f1") ++ Seq.fill(4)("f2") ++
      Seq.fill(3)("f3")).mkString(" ")
    val docs = Seq(("A", geo), ("B", flat)).toDF("source", "text")
    val by = TextAnalysis.zipfFitBySource(docs, "source", "text")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(by.keySet == Set("A", "B"))
    // parity law: the per-source row IS the (replay-pinned) global
    // operator applied to that source's slice
    for (src <- Seq("A", "B")) {
      val g = TextAnalysis.zipfFit(docs.where(col("source") === src), "text")
        .as[(Long, Double, Double, Double)].collect().head
      assert((by(src)._2, by(src)._3, by(src)._4, by(src)._5) == g,
        s"source $src must equal the global fit on its slice")
    }
    assert(by("A")._3 < -0.5, "geometric source fits steeply negative")
    assert(by("B")._3 < 0.0 && by("B")._3 > -0.5,
      "near-flat source fits shallow — flagged next to its healthy peer")
  }

  test("lmKneserNey: exact local replay of the interpolated-KN formula") {
    val data = Seq(
      (1L, "san francisco is big"),
      (2L, "san francisco is nice"),
      (3L, "the city is big"),
      (4L, "a city is nice and big"))
    val docs = data.toDF("doc_id", "text")
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // local replay of the exact engine arithmetic, same parenthesization
    val perDoc = data.map { case (id, t) =>
      id -> t.split("\\s+").toSeq.sliding(2).map(_.mkString(" ")).toSeq
    }.toMap
    val tf: Map[(Long, String), Long] = perDoc.toSeq
      .flatMap { case (id, bs) => bs.map(b => (id, b)) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cntBi = tf.toSeq.groupBy(_._1._2).map { case (b, v) => b -> v.map(_._2).sum }
    val cntCtx = cntBi.toSeq.groupBy(_._1.split(" ")(0))
      .map { case (c, v) => c -> v.map(_._2).sum }
    val n1Fwd = cntBi.keys.toSeq.groupBy(_.split(" ")(0)).map { case (c, v) => c -> v.size }
    val n1Back = cntBi.keys.toSeq.groupBy(_.split(" ")(1)).map { case (w, v) => w -> v.size }
    val nTypes = cntBi.size
    def lp(b: String): Double = {
      val Array(c, w) = b.split(" ")
      r6(math.log((cntBi(b) - 0.75) / cntCtx(c) +
        0.75 * n1Fwd(c) / cntCtx(c) * (n1Back(w).toDouble / nTypes)))
    }
    val expected = perDoc.map { case (id, _) =>
      val rows = tf.collect { case ((i, b), n) if i == id => (b, n) }.toSeq
      val nb = rows.map(_._2).sum
      val sum = rows.map { case (b, n) =>
        BigDecimal(lp(b)).setScale(6) * n }.sum
      id -> (nb, sum.toDouble / nb)
    }
    val out = TextAnalysis.lmKneserNey(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == expected.keySet)
    for ((id, (nb, avg)) <- expected) {
      assert(out(id)._2 == nb, s"doc $id bigram count")
      assert(out(id)._3 == avg, s"doc $id KN avg must replay exactly")
      assert(out(id)._3 < 0.0, "log-probs of proper probabilities are negative")
    }
  }

  test("lmKneserNeyTrigram: exact local replay of the interpolated trigram-KN chain") {
    val data = Seq(
      (1L, "san francisco is big and wide"),
      (2L, "san francisco is nice today"),
      (3L, "the city is big and loud"),
      (4L, "a city is nice and big"),
      (5L, "hi there")) // < 3 tokens: no trigram, vanishes
    val docs = data.toDF("doc_id", "text")
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val perDoc = data.map { case (id, t) =>
      id -> t.split("\\s+").toSeq.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq
    }.toMap
    val tf: Map[(Long, String), Long] = perDoc.toSeq
      .flatMap { case (id, ts) => ts.map(g => (id, g)) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cntTri = tf.toSeq.groupBy(_._1._2).map { case (g, v) => g -> v.map(_._2).sum }
    def parts(g: String) = g.split(" ")
    val cntCtx = cntTri.toSeq.groupBy(t => (parts(t._1)(0), parts(t._1)(1)))
      .map { case (c, v) => c -> v.map(_._2).sum }
    val n1Fwd = cntTri.keys.toSeq.groupBy(g => (parts(g)(0), parts(g)(1)))
      .map { case (c, v) => c -> v.size }
    val n1Mid = cntTri.keys.toSeq.groupBy(g => (parts(g)(1), parts(g)(2)))
      .map { case (c, v) => c -> v.size }
    val n1Dot = cntTri.keys.toSeq.groupBy(g => parts(g)(1)).map { case (c, v) => c -> v.size }
    val pairSet = cntTri.keys.map(g => (parts(g)(1), parts(g)(2))).toSet
    val n1W2dot = pairSet.toSeq.groupBy(_._1).map { case (c, v) => c -> v.size }
    val n1Back = pairSet.toSeq.groupBy(_._2).map { case (c, v) => c -> v.size }
    val nPairs = pairSet.size
    def lp(g: String): Double = {
      val Array(w1, w2, w3) = parts(g)
      r6(math.log((cntTri(g) - 0.75) / cntCtx((w1, w2)) +
        0.75 * n1Fwd((w1, w2)) / cntCtx((w1, w2)) *
          ((n1Mid((w2, w3)) - 0.75) / n1Dot(w2) +
            0.75 * n1W2dot(w2) / n1Dot(w2) * (n1Back(w3).toDouble / nPairs))))
    }
    val expected = perDoc.collect { case (id, ts) if ts.nonEmpty =>
      val rows = tf.collect { case ((i, g), n) if i == id => (g, n) }.toSeq
      val nb = rows.map(_._2).sum
      val sum = rows.map { case (g, n) => BigDecimal(lp(g)).setScale(6) * n }.sum
      id -> ((nb, sum.toDouble / nb))
    }
    val out = TextAnalysis.lmKneserNeyTrigram(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == expected.keySet, "docs with < 3 tokens must vanish")
    for ((id, (nb, avg)) <- expected) {
      assert(out(id)._2 == nb, s"doc $id trigram count")
      assert(out(id)._3 == avg, s"doc $id trigram-KN avg must replay exactly")
      assert(out(id)._3 < 0.0, "log-probs of proper probabilities are negative")
    }
  }

  test("cmsCounts: exact local CMS replay, one-sided overcount, topN order") {
    val docs = Seq(
      "aa aa aa bb bb cc",
      "aa bb cc dd",
      "aa aa ee"
    ).toDF("text")
    // exact: aa=6 bb=3 cc=2 aa... dd=1 ee=1
    val exact = Map("aa" -> 6L, "bb" -> 3L, "cc" -> 2L, "dd" -> 1L, "ee" -> 1L)
    def bucket(r: Int, t: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"cms$r:$t".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 1024).toInt
    }
    // local CMS: cell value = sum of counts of tokens hashing there
    def est(t: String): Long = (0 until 4).map { r =>
      val b = bucket(r, t)
      exact.collect { case (u, n) if bucket(r, u) == b => n }.sum
    }.min
    val out = TextAnalysis.cmsCounts(docs, "text", depth = 4, width = 1024, topN = 30)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == exact.keySet, "topN=30 must surface every token")
    for ((t, n) <- exact) {
      val (_, exactN, cmsN, over) = out(t)
      assert(exactN == n, s"$t exact")
      assert(cmsN == est(t), s"$t estimate must equal the local CMS replay")
      assert(cmsN >= exactN && over == cmsN - exactN,
        s"$t: CMS may only OVERcount ($cmsN vs $exactN)")
    }
  }

  test("pmiCollocations: planted collocation scores ln(chance ratio) exactly") {
    // 6 identical docs: each bigram occurs 6x, each unigram 6x, 24 tokens
    // -> pmi = round(ln((6/6) * (24/6)), 6) for all three bigrams;
    // ties rank alphabetically
    val docs = Seq.fill(6)("new york stock exchange").toDF("text")
    val out = TextAnalysis.pmiCollocations(docs, "text", minCount = 5L, k = 50)
      .as[(String, Long, Double, Int)].collect().sortBy(_._4)
    val expected = BigDecimal(math.log((6.0 / 6) * (24.0 / 6)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(_._1).toSeq == Seq("new york", "stock exchange", "york stock"))
    assert(out.forall(r => r._2 == 6L && r._3 == expected), s"got ${out.toSeq}")
    // below minCount: nothing emitted
    assert(TextAnalysis.pmiCollocations(docs, "text", minCount = 7L, 50).count() == 0)
  }

  test("waterfillBudget: exact level, remainder order, budget conservation") {
    // caps A=1, B=6, C=6 tokens; total 13, budget 13 div 2 = 6.
    // A funded (1*3 <= 6); level = (6-1) div 2 = 2, remainder 1 -> B gets +1.
    val docs = Seq(
      ("A", "w1"), ("B", "w1 w2 w3 w4 w5 w6"), ("C", "w1 w2 w3"),
      ("C", "w4 w5 w6")).toDF("source", "text")
    val out = TextAnalysis.waterfillBudget(docs, "source", "text", 2L)
      .as[(String, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out("A") == (("A", 1L, 1L, true)))
    assert(out("B") == (("B", 6L, 3L, false)), s"got ${out("B")}")
    assert(out("C") == (("C", 6L, 2L, false)))
    assert(out.values.map(_._3).sum == 13L / 2, "allocations must spend the budget exactly")
    // budget >= total: everyone fully funded, allocation == capacity
    val all = TextAnalysis.waterfillBudget(docs, "source", "text", 1L)
      .as[(String, Long, Long, Boolean)].collect()
    assert(all.forall(r => r._3 == r._2 && r._4))
  }

  test("splitAssign: disjoint, exhaustive, exact per-stratum ratios") {
    val docs = (1L to 40L).map(i => (i, if (i <= 20) "en" else "zh"))
      .toDF("doc_id", "lang")
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = TextAnalysis.splitAssign(docs, "lang", "doc_id", fr)
      .as[(Long, String, String)].collect()
    // one row per doc, every doc assigned exactly one split
    assert(out.length == 40 && out.map(_._1).distinct.length == 40)
    // exact ratios per stratum: 20 docs -> 16/2/2, not in expectation
    for (lang <- Seq("en", "zh")) {
      val g = out.filter(_._2 == lang).groupBy(_._3)
        .view.mapValues(_.size).toMap
      assert(g == Map("train" -> 16, "val" -> 2, "test" -> 2), s"$lang -> $g")
    }
    // deterministic under re-evaluation (md5-rank order, no RNG)
    val again = TextAnalysis.splitAssign(docs, "lang", "doc_id", fr)
      .as[(Long, String, String)].collect()
    assert(again.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
  }
}
