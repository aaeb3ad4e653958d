package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.IngestDiscovery
/** Oracle-SQL registry part 2: dedup tiers (span/CDC/substr), similarity
  * joins, PII, sampling/shuffle/packing, n-gram overlap, pinned-ANN
  * replays, embeddings (covariance + the round-18 fixed-point PCA power
  * iteration), decontamination, and the LM-scoring/corpus-statistics
  * family. */
private[graft] object OraclesDedupLm {
  import QueryShared._

  val entries: Map[String, String] = Map(
    "dedup_exact" -> (CorpusCte +
      """
        |SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM corpus GROUP BY regexp_replace(trim(lower(text)), '\s+', ' ', 'g')""".stripMargin),
    "dedup_stats" -> (CorpusCte + """,
        |clusters AS (SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |  FROM corpus GROUP BY regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        |SELECT CAST(n_copies AS BIGINT) AS n_copies, CAST(count(*) AS BIGINT) AS n_clusters
        |FROM clusters GROUP BY n_copies""".stripMargin),
    "dedup_span" -> (CorpusCte + """,
        |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM corpus),
        |idx AS (SELECT doc_id, w, CAST(ceil(len(w) / 20.0) AS INT) AS n_total,
        |    unnest(range(CAST(ceil(len(w) / 20.0) AS BIGINT))) AS i
        |  FROM toks WHERE len(w) > 0),
        |spans AS (SELECT doc_id, CAST(i AS INT) AS pos,
        |    array_to_string(w[i*20+1 : i*20+20], ' ') AS span, n_total
        |  FROM idx),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
        |  FROM spans),
        |kept AS (SELECT doc_id, pos, span, n_total FROM ranked WHERE rn = 1)
        |SELECT doc_id,
        |  string_agg(span, ' ' ORDER BY pos) AS text_dedup,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(max(n_total) - count(*) AS BIGINT) AS n_dropped
        |FROM kept GROUP BY doc_id""".stripMargin),
    // CDC replay (chain in cdcChainCtes): keep first corpus occurrence of
    // every chunk, reassemble — mirrors the span oracle's tail.
    "dedup_cdc" -> (CorpusCte + ",\n" + cdcChainCtes("corpus", 32) + """,
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
        |  FROM f),
        |kept AS (SELECT doc_id, pos, chunk, n_total FROM ranked WHERE rn = 1)
        |SELECT doc_id,
        |  string_agg(chunk, ' ' ORDER BY pos) AS text_dedup,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(max(n_total) - count(*) AS BIGINT) AS n_dropped
        |FROM kept GROUP BY doc_id""".stripMargin),
    // ExactSubstr replay — token-level restatement of the SAME semantics:
    // a token is cut iff SOME overlapping L-gram covering it is a
    // non-first occurrence of its md5'd content (first = smallest doc_id,
    // then position — the dedup_span ranking verbatim). The Spark side
    // evaluates this via interval merge + gap slicing; here the coverage
    // test is a direct position-range join (fine at oracle SF), so the
    // two sides agree only if the interval algebra is exactly right.
    "dedup_substr" -> {
      val l = SubstrRun
      s"""${CorpusCte},
        |toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM corpus),
        |t0 AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) > 0),
        |g AS (SELECT doc_id, CAST(p AS INT) AS pos,
        |    md5(array_to_string(w[p+1 : p+$l], ' ')) AS h
        |  FROM (SELECT doc_id, w, unnest(range(n - $l + 1)) AS p FROM t0 WHERE n >= $l)),
        |dup AS (SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |    FROM g) WHERE rn >= 2),
        |tok AS (SELECT doc_id, CAST(t - 1 AS INT) AS ti, w[t] AS tk, n
        |  FROM (SELECT doc_id, w, n, unnest(range(1, n + 1)) AS t FROM t0)),
        |cov AS (SELECT DISTINCT t.doc_id, t.ti FROM tok t JOIN dup d
        |  ON t.doc_id = d.doc_id AND t.ti BETWEEN d.pos AND d.pos + $l - 1),
        |kept AS (SELECT t.doc_id, t.ti, t.tk, t.n FROM tok t LEFT JOIN cov c
        |  ON t.doc_id = c.doc_id AND t.ti = c.ti WHERE c.ti IS NULL)
        |SELECT doc_id, string_agg(tk, ' ' ORDER BY ti) AS text_dedup,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(max(n) - count(*) AS BIGINT) AS n_dropped
        |FROM kept GROUP BY doc_id""".stripMargin
    },
    // Cross-corpus ExactSubstr scrub replay: bench = the odd half's
    // DISTINCT gram-hash set; a training gram is cut iff its hash is in
    // that set (no first-occurrence ranking — the benchmark is
    // canonical); the coverage/reassembly tail is dedup_substr's.
    "decontam_substr" -> {
      val l = SubstrRun
      s"""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
        |t0 AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) > 0),
        |g AS (SELECT doc_id, CAST(p AS INT) AS pos,
        |    md5(array_to_string(w[p+1 : p+$l], ' ')) AS h
        |  FROM (SELECT doc_id, w, unnest(range(n - $l + 1)) AS p FROM t0 WHERE n >= $l)),
        |bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 2 = 1),
        |dup AS (SELECT g.doc_id, g.pos FROM g JOIN bench USING (h) WHERE g.doc_id % 2 = 0),
        |tok AS (SELECT doc_id, CAST(t - 1 AS INT) AS ti, w[t] AS tk, n
        |  FROM (SELECT doc_id, w, n, unnest(range(1, n + 1)) AS t FROM t0)
        |  WHERE doc_id % 2 = 0),
        |cov AS (SELECT DISTINCT t.doc_id, t.ti FROM tok t JOIN dup d
        |  ON t.doc_id = d.doc_id AND t.ti BETWEEN d.pos AND d.pos + $l - 1),
        |kept AS (SELECT t.doc_id, t.ti, t.tk, t.n FROM tok t LEFT JOIN cov c
        |  ON t.doc_id = c.doc_id AND t.ti = c.ti WHERE c.ti IS NULL)
        |SELECT doc_id, string_agg(tk, ' ' ORDER BY ti) AS text_clean,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(max(n) - count(*) AS BIGINT) AS n_dropped
        |FROM kept GROUP BY doc_id""".stripMargin
    },
    // Boilerplate scrub: same CDC chain at the ~4-token chunk scale over
    // plain documents; chunks in >= 3 distinct docs drop from EVERY doc.
    "boilerplate_scrub" -> ("WITH " + cdcChainCtes("documents", 4) + """,
        |dfx AS (SELECT chunk, count(DISTINCT doc_id) AS df FROM f GROUP BY 1),
        |kept AS (SELECT f.doc_id, f.pos, f.chunk, f.n_total
        |  FROM f JOIN dfx USING (chunk) WHERE dfx.df < 3)
        |SELECT doc_id,
        |  string_agg(chunk, ' ' ORDER BY pos) AS text_clean,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(max(n_total) - count(*) AS BIGINT) AS n_dropped
        |FROM kept GROUP BY doc_id""".stripMargin),
    "neardup_minhash" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
        |  FROM toks WHERE len(w) >= 3),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.8""".stripMargin,
    // Exact operator, exact oracle: the all-pairs brute force IS the
    // contract here (PPJoin guarantees completeness, not approximation),
    // so any miss by the prefix filter is a hard red, not noise.
    "setsim_join" -> SetSimJoinSql,
    // Asymmetric containment, all-pairs brute force — completeness IS the
    // contract (ordered pairs: exact copies qualify in both directions).
    // The hashed carrier answers the same exact-string statement (key
    // representation only, the setsim_join_hashed discipline).
    "containment_join" -> ContainmentJoinSql,
    "containment_join_hashed" -> ContainmentJoinSql,
    // Same oracle verbatim: hashed shingle keys change only the shuffle
    // representation; the verify stage scores true shingle arrays.
    "setsim_join_hashed" -> SetSimJoinSql,
    // True connected-components fixpoint via recursive CTE — the Spark
    // side's bounded label propagation must reach the same labels.
    "dedup_cluster" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
        |  FROM toks WHERE len(w) >= 3),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.8),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
        |reach(src, node) AS (
        |  SELECT doc_id AS src, doc_id AS node FROM documents
        |  UNION
        |  SELECT r.src, e.dst AS node FROM reach r JOIN edges e ON e.src = r.node)
        |SELECT src AS doc_id, CAST(min(node) AS BIGINT) AS cluster_id,
        |  min(node) = src AS kept
        |FROM reach GROUP BY src""".stripMargin,
    // Same recursive-CTE fixpoint; the kept rule becomes the per-cluster
    // score argmax (n_chars desc, id asc) instead of min id.
    "dedup_keep_best" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
        |  FROM toks WHERE len(w) >= 3),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.8),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
        |reach(src, node) AS (
        |  SELECT doc_id AS src, doc_id AS node FROM documents
        |  UNION
        |  SELECT r.src, e.dst AS node FROM reach r JOIN edges e ON e.src = r.node),
        |lab AS (SELECT src AS doc_id, CAST(min(node) AS BIGINT) AS cluster_id
        |  FROM reach GROUP BY src)
        |SELECT l.doc_id, l.cluster_id, CAST(d.n_chars AS BIGINT) AS score,
        |  row_number() OVER (PARTITION BY l.cluster_id
        |    ORDER BY d.n_chars DESC, l.doc_id) = 1 AS kept
        |FROM lab l JOIN documents d ON l.doc_id = d.doc_id""".stripMargin,
    "fragment_pairs" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |hb AS (SELECT doc_id,
        |    array_to_string(w[1:3], ' ') AS head3,
        |    array_to_string(w[len(w)-2:len(w)], ' ') AS tail3
        |  FROM t WHERE len(w) >= 6)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.tail3 AS boundary
        |FROM hb a JOIN hb b ON a.tail3 = b.head3 AND a.doc_id <> b.doc_id""".stripMargin,
    "pii_scrub" -> (
      s"""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |  text || ' contact user' || doc_id || '@example.com or +1-555-01' || doc_id
        |       || ' at 192.168.0.' || (doc_id % 256),
        |  '${TextAnalysis.EmailRe}', '[EMAIL]', 'g'),
        |  '${TextAnalysis.Ipv4Re}', '[IP]', 'g'),
        |  '${TextAnalysis.PhoneRe}', '[PHONE]', 'g') AS scrubbed
        |FROM documents""".stripMargin),
    // Luhn replay: identical RE2 candidate extraction, the same right-to-
    // left double-every-second digit sum as integer list arithmetic.
    "pii_luhn" -> (
      s"""WITH d2 AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' card 4111111111111111'
        |         WHEN doc_id % 11 = 0 THEN ' card 4111111111111112'
        |         WHEN doc_id % 13 = 0 THEN ' card 4111 1111 1111 1111 ok'
        |         ELSE '' END AS text
        |  FROM documents WHERE text IS NOT NULL),
        |cand AS (SELECT doc_id,
        |    unnest(regexp_extract_all(text, '${TextAnalysis.CardRe}')) AS candidate
        |  FROM d2),
        |dd AS (SELECT doc_id, candidate,
        |    regexp_replace(candidate, '[ -]', '', 'g') AS digits FROM cand)
        |SELECT doc_id, candidate, digits,
        |  (length(digits) BETWEEN 13 AND 19 AND
        |   CAST(list_sum(list_transform(range(1, length(digits) + 1), i ->
        |     CASE WHEN (length(digits) - i) % 2 = 1
        |          THEN CASE WHEN 2 * (ascii(substr(digits, i, 1)) - 48) > 9
        |               THEN 2 * (ascii(substr(digits, i, 1)) - 48) - 9
        |               ELSE 2 * (ascii(substr(digits, i, 1)) - 48) END
        |          ELSE ascii(substr(digits, i, 1)) - 48 END)) AS BIGINT) % 10 = 0)
        |  AS valid
        |FROM dd""".stripMargin),
    // Mojibake replay: identical planted artifact strings (shared Scala
    // constants interpolated into both engines), identical RE2 classes,
    // bad_permille one terminal division (engine-exact, unrounded).
    "mojibake_gate" -> (
      s"""WITH d2 AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 17 = 0 THEN '$MojiPlant17'
        |         WHEN doc_id % 19 = 0 THEN '$MojiPlant19'
        |         WHEN doc_id % 23 = 0 THEN '$MojiPlant23'
        |         ELSE '' END AS text
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
        |    CAST(len(regexp_extract_all(text, '${TextAnalysis.MojibakeReplRe}')) AS INT) AS repl_cnt,
        |    CAST(len(regexp_extract_all(text, '${TextAnalysis.MojibakeC1Re}')) AS INT) AS c1_cnt,
        |    CAST(len(regexp_extract_all(text, '${TextAnalysis.MojibakeDigraphRe}')) AS INT) AS digraph_cnt
        |  FROM d2),
        |r AS (SELECT doc_id, n_chars, repl_cnt, c1_cnt, digraph_cnt,
        |    CASE WHEN n_chars > 0
        |      THEN CAST(repl_cnt + c1_cnt + digraph_cnt AS DOUBLE) * 1000.0
        |           / CAST(n_chars AS DOUBLE)
        |      ELSE 0.0 END AS bad_permille
        |  FROM c)
        |SELECT doc_id, n_chars, repl_cnt, c1_cnt, digraph_cnt, bad_permille,
        |  bad_permille <= 2.0 AS keep
        |FROM r""".stripMargin),
    // Script-profile replay: same planted samples (shared constants), the
    // RE2 spellings of the same script classes (\p{Latin} vs Java's
    // \p{IsLatin}), exact integer sums, one terminal division.
    "script_profile" -> {
      def re2(name: String): String =
        TextAnalysis.ScriptClasses.find(_._1 == name).get._3
      s"""WITH d2 AS (SELECT source, text ||
        |    CASE WHEN doc_id % 29 = 0 THEN '$ScriptPlant29'
        |         WHEN doc_id % 31 = 0 THEN '$ScriptPlant31'
        |         WHEN doc_id % 37 = 0 THEN '$ScriptPlant37'
        |         WHEN doc_id % 41 = 0 THEN '$ScriptPlant41'
        |         ELSE '' END AS text
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT source, CAST(length(text) AS BIGINT) AS n,
        |    CAST(len(regexp_extract_all(text, '${re2("latin")}')) AS BIGINT) AS latin,
        |    CAST(len(regexp_extract_all(text, '${re2("digit")}')) AS BIGINT) AS digit,
        |    CAST(len(regexp_extract_all(text, '${re2("cyrillic")}')) AS BIGINT) AS cyr,
        |    CAST(len(regexp_extract_all(text, '${re2("han")}')) AS BIGINT) AS han,
        |    CAST(len(regexp_extract_all(text, '${re2("arabic")}')) AS BIGINT) AS arab,
        |    CAST(len(regexp_extract_all(text, '${re2("space")}')) AS BIGINT) AS sp
        |  FROM d2)
        |SELECT source, CAST(SUM(n) AS BIGINT) AS n_chars,
        |  CAST(SUM(latin) AS BIGINT) AS latin_cnt,
        |  CAST(SUM(digit) AS BIGINT) AS digit_cnt,
        |  CAST(SUM(cyr) AS BIGINT) AS cyrillic_cnt,
        |  CAST(SUM(han) AS BIGINT) AS han_cnt,
        |  CAST(SUM(arab) AS BIGINT) AS arabic_cnt,
        |  CAST(SUM(sp) AS BIGINT) AS space_cnt,
        |  CAST(SUM(n) - SUM(latin) - SUM(digit) - SUM(cyr) - SUM(han)
        |    - SUM(arab) - SUM(sp) AS BIGINT) AS other_cnt,
        |  CASE WHEN SUM(n) > 0
        |    THEN CAST(SUM(n) - SUM(latin) - SUM(digit) - SUM(sp) AS DOUBLE)
        |         * 1000.0 / CAST(SUM(n) AS DOUBLE)
        |    ELSE 0.0 END AS non_latin_permille
        |FROM c GROUP BY source""".stripMargin
    },
    "corpus_shuffle" ->
      """SELECT doc_id, CAST(row_number() OVER (
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)) || CAST(doc_id AS VARCHAR))
        |  AS BIGINT) AS shuffle_rank
        |FROM documents""".stripMargin,
    "sample_weighted" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE lang WHEN 'en' THEN 'g' WHEN 'zh' THEN '80000000'
        |            WHEN 'es' THEN '40000000' WHEN 'de' THEN '19999999'
        |            ELSE 'c0000000' END""".stripMargin,
    // Priority sampling: u = (52-bit md5 prefix + 0.5) / 2^52 is a dyadic
    // rational (every op exact in doubles), priority = weight / u one
    // correctly-rounded division — bit-identical to Spark, so the float
    // columns hash-match without decimal laundering.
    "sample_priority" ->
      """WITH s AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
        |    CAST(n_chars AS DOUBLE) /
        |      ((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::UBIGINT AS DOUBLE)
        |        + 0.5) / 4503599627370496.0) AS priority
        |  FROM documents),
        |top AS (SELECT * FROM s ORDER BY priority DESC, doc_id LIMIT 201),
        |m AS (SELECT min(priority) AS tau, count(*) AS n FROM top)
        |SELECT doc_id, weight, priority,
        |  CASE WHEN m.n <= 200 THEN weight ELSE greatest(weight, m.tau) END AS w_est
        |FROM top, m
        |QUALIFY row_number() OVER (ORDER BY priority DESC, doc_id) <= 200""".stripMargin,
    "sample_priority_strat" ->
      """WITH s AS (SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS weight,
        |    CAST(n_chars AS DOUBLE) /
        |      ((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::UBIGINT AS DOUBLE)
        |        + 0.5) / 4503599627370496.0) AS priority
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER
        |    (PARTITION BY lang ORDER BY priority DESC, doc_id) AS rn FROM s),
        |t AS (SELECT *, max(CASE WHEN rn = 51 THEN priority END)
        |    OVER (PARTITION BY lang) AS tau FROM r)
        |SELECT lang, doc_id, weight, priority,
        |  CASE WHEN tau IS NULL THEN weight ELSE greatest(weight, tau) END AS w_est
        |FROM t WHERE rn <= 50""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents) WHERE rk <= 5""".stripMargin,
    // PMI from the same single-tokenize counts; the pmi expression's
    // parenthesization is pinned to the Spark side's, rounded 6dp, ties
    // on the bigram string.
    "pmi_collocations" ->
      """WITH toks AS (SELECT string_split_regex(trim(text), '\s+') AS w FROM documents),
        |uni AS (SELECT unnest(w) AS g FROM toks),
        |ucnt AS (SELECT g AS wrd, count(*) AS cw FROM uni GROUP BY g),
        |nt AS (SELECT SUM(cw) AS n FROM ucnt),
        |bi AS (SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g FROM toks),
        |bcnt AS (SELECT g, CAST(count(*) AS BIGINT) AS n_pair FROM bi
        |  GROUP BY g HAVING count(*) >= 5),
        |s AS (SELECT b.g AS bigram, b.n_pair,
        |    round(ln((CAST(b.n_pair AS DOUBLE) / cl.cw)
        |      * (CAST((SELECT n FROM nt) AS DOUBLE) / cr.cw)), 6) AS pmi
        |  FROM bcnt b
        |  JOIN ucnt cl ON cl.wrd = string_split(b.g, ' ')[1]
        |  JOIN ucnt cr ON cr.wrd = string_split(b.g, ' ')[2]),
        |r AS (SELECT bigram, n_pair, pmi,
        |    row_number() OVER (ORDER BY pmi DESC, bigram) AS rank FROM s)
        |SELECT bigram, n_pair, pmi, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 50""".stripMargin,
    // Same closed-form windows as the Spark side: funded via the monotone
    // capacity test, the level via one integer division, remainder to the
    // first unfunded sources in id order — all-integer, engine-exact.
    "mix_waterfill" ->
      """WITH caps AS (SELECT source,
        |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS cap_tokens
        |  FROM documents GROUP BY source),
        |t AS (SELECT SUM(cap_tokens) AS total, count(*) AS n FROM caps),
        |rk AS (SELECT source, cap_tokens,
        |    (SELECT total // 2 FROM t) AS b, (SELECT n FROM t) AS n,
        |    row_number() OVER (ORDER BY cap_tokens, source) AS rn,
        |    SUM(cap_tokens) OVER (ORDER BY cap_tokens, source
        |      ROWS UNBOUNDED PRECEDING) AS pref
        |  FROM caps),
        |f AS (SELECT *,
        |    cap_tokens * (n - rn + 1) + (pref - cap_tokens) <= b AS funded
        |  FROM rk),
        |g AS (SELECT *,
        |    SUM(CASE WHEN funded THEN 1 ELSE 0 END) OVER () AS k,
        |    SUM(CASE WHEN funded THEN cap_tokens ELSE 0 END) OVER () AS pk,
        |    row_number() OVER (PARTITION BY funded ORDER BY source) AS ur
        |  FROM f)
        |SELECT source, cap_tokens,
        |  CAST(CASE WHEN funded THEN cap_tokens
        |       ELSE (b - pk) // (n - k)
        |         + (CASE WHEN ur <= (b - pk) % (n - k) THEN 1 ELSE 0 END)
        |       END AS BIGINT) AS alloc_tokens,
        |  funded
        |FROM g""".stripMargin,
    // Same rank construction; the cut boundaries are floor(c * n) with the
    // identical double literals, so the split is engine-exact.
    "split_assign" ->
      """SELECT doc_id, lang,
        |  CASE WHEN rn <= floor(0.9 * n) THEN 'train'
        |       WHEN rn <= floor(0.95 * n) THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)""".stripMargin,
    "seq_pack" ->
      """SELECT doc_id, source,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
        |  CAST(floor(coalesce(SUM(len(string_split_regex(trim(text), '\s+'))) OVER (
        |    PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0) AS BIGINT) AS bin
        |FROM documents""".stripMargin,
    "chunk_docs" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |e AS (SELECT doc_id, w,
        |    CAST(ceil(greatest(len(w) - 32, 0) / 24.0) AS INT) AS n_extra FROM t),
        |c AS (SELECT doc_id, w, CAST(unnest(range(0, n_extra + 1)) AS INT) AS chunk_id FROM e)
        |SELECT doc_id, chunk_id,
        |  CAST(len(w[chunk_id * 24 + 1 : chunk_id * 24 + 32]) AS INT) AS n_chunk_tokens,
        |  array_to_string(w[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk_text
        |FROM c""".stripMargin,
    "ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS s
        |  FROM toks WHERE len(w) >= 2)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""".stripMargin,
    "source_overlap" -> SourceOverlapSql,
    // Bottom-k replay: per-source k smallest distinct gram md5s via a
    // source-partitioned row_number, then pure list arithmetic — the
    // union's bottom-k, its overlap with the intersection, one division.
    "source_overlap_sketch" ->
      """WITH toks AS (SELECT source, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh AS (SELECT DISTINCT source, md5(g) AS h
        |  FROM toks, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS t(g)
        |  WHERE len(w) >= 2),
        |bk AS (SELECT source, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM sh),
        |sk AS (SELECT source, list_sort(list(h)) AS bl FROM bk WHERE rn <= 64 GROUP BY source),
        |p AS (SELECT a.source AS source_a, b.source AS source_b, a.bl AS la, b.bl AS lb
        |  FROM sk a JOIN sk b ON a.source < b.source),
        |e AS (SELECT source_a, source_b,
        |    list_slice(list_sort(list_distinct(list_concat(la, lb))), 1, 64) AS u,
        |    list_intersect(la, lb) AS comm
        |  FROM p)
        |SELECT source_a, source_b,
        |  CAST(len(list_intersect(u, comm)) AS BIGINT) AS n_common_sk,
        |  round(CAST(len(list_intersect(u, comm)) AS DOUBLE) / len(u), 6) AS est_jaccard
        |FROM e""".stripMargin,
    // Same oracle verbatim: hashKeys only changes the join-key
    // representation (8-byte xxhash64 vs raw n-gram string); the output
    // matrix is identical modulo ~2^-64 collision probability, so the
    // hashed carrier answers to the exact-string oracle.
    "source_overlap_hashed" -> SourceOverlapSql,
    // Brute-force simhash near-dup: rebuild the frequency-weighted Charikar
    // signature from the md5 token hash (identical bits to the Spark
    // expression), then ALL pairs with hamming <= 6 verified by 3-gram
    // Jaccard >= 0.8 — exactly the set the pigeonhole banding guarantees.
    "neardup_simhash" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |    FROM documents),
        |th AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h, count(*) AS cnt
        |    FROM toks GROUP BY doc_id, h),
        |bits AS (SELECT doc_id, i,
        |    CASE WHEN SUM(CASE WHEN ((h >> i) & 1) = 1 THEN cnt ELSE -cnt END) > 0
        |      THEN (1::UBIGINT << i) ELSE 0::UBIGINT END AS b
        |  FROM th, range(64) r(i) GROUP BY doc_id, i),
        |sig AS (SELECT doc_id, bit_or(b) AS s FROM bits GROUP BY doc_id),
        |tw AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
        |  FROM tw WHERE len(w) >= 3),
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND bit_count(xor(a.s, b.s)) <= 6),
        |j AS (SELECT doc_a, doc_b,
        |    round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        |      / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 6) AS jaccard
        |  FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b)
        |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.8""".stripMargin,
    // The greedy MMR steps unroll as CTEs (the event_pagerank pattern):
    // candidate/pairwise cosines 6dp-rounded before any arithmetic, λ/μ
    // as the same decimal literals the Spark side computes with, argmax
    // ties on neighbor_id — each step is engine-exact by construction.
    "mmr_topk" -> {
      val steps = (2 to 5).map { t =>
        s"""ch$t AS (SELECT * FROM ch${t - 1}
           |  UNION ALL
           |  SELECT query_id, neighbor_id, $t AS mmr_rank FROM (
           |    SELECT cd.query_id, cd.neighbor_id,
           |      row_number() OVER (PARTITION BY cd.query_id
           |        ORDER BY 0.7 * cd.sim - 0.3 * pen.mx DESC, cd.neighbor_id) AS rk
           |    FROM cand cd
           |    JOIN (SELECT p.query_id, p.ida, max(p.psim) AS mx
           |        FROM p JOIN ch${t - 1} ch
           |          ON ch.query_id = p.query_id AND ch.neighbor_id = p.idb
           |        GROUP BY p.query_id, p.ida) pen
           |      ON pen.query_id = cd.query_id AND pen.ida = cd.neighbor_id
           |    WHERE NOT EXISTS (SELECT 1 FROM ch${t - 1} x
           |      WHERE x.query_id = cd.query_id AND x.neighbor_id = cd.neighbor_id)
           |  ) WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |    FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |    FROM embeddings WHERE vec_id >= 5),
        |s0 AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS rawsim
        |    FROM q, c),
        |sh AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY rawsim DESC, neighbor_id) AS rk
        |    FROM s0 WHERE NOT isnan(rawsim)) WHERE rk <= 20),
        |cand AS (SELECT s.query_id, s.neighbor_id, round(s.rawsim, 6) AS sim
        |    FROM s0 s JOIN sh USING (query_id, neighbor_id)),
        |p AS (SELECT a.query_id, a.neighbor_id AS ida, b.neighbor_id AS idb,
        |      round(list_cosine_similarity(ca.cv, cb.cv), 6) AS psim
        |    FROM sh a JOIN sh b USING (query_id)
        |    JOIN c ca ON ca.neighbor_id = a.neighbor_id
        |    JOIN c cb ON cb.neighbor_id = b.neighbor_id
        |    WHERE a.neighbor_id <> b.neighbor_id),
        |ch1 AS (SELECT query_id, neighbor_id, 1 AS mmr_rank FROM (
        |    SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rk FROM cand) WHERE rk = 1),
        |$steps
        |SELECT query_id, neighbor_id, CAST(mmr_rank AS INT) AS mmr_rank FROM ch5""".stripMargin
    },
    "ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |    FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |    FROM embeddings WHERE vec_id >= 5),
        |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS sim FROM q, c),
        |r AS (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM s)
        |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM r WHERE rank <= 10""".stripMargin,
    // Sign fold replay: both engines set bit i iff component i+1 > 0; the
    // two 32-bit words stay below 2^32 so no signed-compare trap applies,
    // and XOR+popcount is sign-free by construction. Shortlist order
    // (hamming asc, id asc) and the exact-cosine rerank mirror the Spark
    // operator's TopKAgg orderings exactly.
    "ann_hamming" ->
      """WITH q0 AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |    FROM embeddings WHERE vec_id < 5),
        |c0 AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |    FROM embeddings WHERE vec_id >= 5),
        |qs AS (SELECT query_id,
        |    CAST(list_sum(list_transform(range(0, 32), i ->
        |      CASE WHEN qv[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS qlo,
        |    CAST(list_sum(list_transform(range(32, 64), i ->
        |      CASE WHEN qv[i+1] > 0 THEN (1::BIGINT << (i-32)) ELSE 0 END)) AS BIGINT) AS qhi
        |  FROM q0),
        |cs AS (SELECT neighbor_id,
        |    CAST(list_sum(list_transform(range(0, 32), i ->
        |      CASE WHEN cv[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS clo,
        |    CAST(list_sum(list_transform(range(32, 64), i ->
        |      CASE WHEN cv[i+1] > 0 THEN (1::BIGINT << (i-32)) ELSE 0 END)) AS BIGINT) AS chi
        |  FROM c0),
        |h AS (SELECT query_id, neighbor_id,
        |    CAST(bit_count(xor(qlo, clo)) AS INT) + CAST(bit_count(xor(qhi, chi)) AS INT) AS ham
        |  FROM qs, cs),
        |sh AS (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY ham, neighbor_id) AS hr FROM h),
        |rr AS (SELECT s.query_id, s.neighbor_id,
        |    list_cosine_similarity(q0.qv, c0.cv) AS sim
        |  FROM sh s
        |  JOIN q0 ON q0.query_id = s.query_id
        |  JOIN c0 ON c0.neighbor_id = s.neighbor_id
        |  WHERE s.hr <= 50),
        |f AS (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM rr)
        |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM f WHERE rank <= 10""".stripMargin,
    "embedding_norms" ->
      """SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
        |  round(sqrt(list_aggregate([x*x for x in CAST(embedding AS DOUBLE[])], 'sum')), 4) AS l2_norm,
        |  round(list_aggregate(CAST(embedding AS DOUBLE[]), 'sum') / len(embedding), 6) AS mean_component
        |FROM embeddings""".stripMargin,
    // No rounding anywhere: the squared-norm fold is order-pinned
    // (list_reduce over the squared list == Spark's ascending aggregate
    // fold, 0.0 + x1^2 being exactly x1^2), and sqrt / the ratio are
    // single correctly-rounded ops — raw doubles hash-match.
    "embedding_matryoshka" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id,
        |    sqrt(list_reduce([x*x for x in v], (a, b) -> a + b)) AS norm_full,
        |    sqrt(list_reduce([x*x for x in v[1:16]], (a, b) -> a + b)) AS norm_16,
        |    sqrt(list_reduce([x*x for x in v[1:32]], (a, b) -> a + b)) AS norm_32
        |  FROM e)
        |SELECT vec_id, norm_full,
        |  norm_16, norm_16 / norm_full AS retained_16,
        |  norm_32, norm_32 / norm_full AS retained_32
        |FROM n""".stripMargin,
    // JL replay: the SAME seed-19 16×64 Gaussian planes inline as list
    // literals; each component is an index-ascending list_reduce fold
    // (≡ Spark's aggregate left fold) × the exact dyadic 0.25 scale,
    // rounded once; norm_ratio folds over the ROUNDED components so both
    // engines square identical inputs.
    "embedding_jl" -> {
      val comps = graft.operators.Similarity.jlPlanes(16, 64).map { p =>
        s"round(list_reduce(list_transform(range(1, 65), i -> " +
          s"coalesce(v[i], 0.0) * ([${p.mkString(", ")}])[i]), " +
          "(a, b) -> a + b) * 0.25, 6)"
      }.mkString(",\n        |    ").stripMargin
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |p AS (SELECT vec_id, v, [$comps] AS proj FROM e),
        |n AS (SELECT vec_id, proj,
        |    round(sqrt(list_reduce([x*x for x in proj], (a, b) -> a + b)) /
        |      sqrt(list_reduce([x*x for x in v], (a, b) -> a + b)), 6) AS norm_ratio
        |  FROM p),
        |u AS (SELECT vec_id, norm_ratio,
        |    unnest([{'ci': i - 1, 'val': proj[i]} for i in range(1, len(proj) + 1)]) AS c
        |  FROM n)
        |SELECT vec_id, CAST(c.ci AS INT) AS component_idx, c.val AS value,
        |  norm_ratio
        |FROM u""".stripMargin
    },
    "multimodal_meta" ->
      """SELECT doc_id, 'text/plain' AS mime,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  sha256(text) AS sha256
        |FROM documents""".stripMargin,
    "frame_sample" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |f AS (SELECT doc_id, n, CAST(ceil(n / 64.0) AS INT) AS n_frames FROM m WHERE n > 0)
        |SELECT doc_id, n_frames,
        |  CAST(unnest(range(0, n_frames, 4)) AS INT) AS frame_idx,
        |  CAST(least(64, n - CAST(unnest(range(0, n_frames, 4)) AS INT) * 64) AS INT) AS frame_bytes
        |FROM f""".stripMargin,
    "embedding_cov" -> EmbeddingCovSql,
    "embedding_cov_hd" -> EmbeddingCovSql,
    "embedding_pca" -> EmbeddingPcaSql,
    "embedding_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |    greatest(list_aggregate([abs(x) for x in v], 'max'), 1e-12) AS mx FROM e),
        |q AS (SELECT vec_id, [CAST(round(x / mx * 127) AS INT) for x in v] AS qv FROM m)
        |SELECT vec_id, qv[1] AS q0,
        |  CAST(list_aggregate(qv, 'min') AS INT) AS q_min,
        |  CAST(list_aggregate(qv, 'max') AS INT) AS q_max,
        |  CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum
        |FROM q""".stripMargin,
    "decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
        |  FROM toks WHERE len(w) >= 3),
        |pairs AS (SELECT a.doc_id AS train_id, b.doc_id AS bench_id,
        |    round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
        |hits AS (SELECT * FROM pairs WHERE jaccard >= 0.8),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY train_id
        |    ORDER BY jaccard DESC, bench_id DESC) AS rn FROM hits)
        |SELECT train_id, bench_id, jaccard FROM ranked WHERE rn = 1""".stripMargin,
    "label_centroids" ->
      """WITH u AS (SELECT label, unnest(
        |    [{'pos': i - 1, 'x': CAST(embedding[i] AS DOUBLE)}
        |     for i in range(1, len(embedding) + 1)]) AS e FROM embeddings),
        |m AS (SELECT label, e.pos AS pos, e.x AS x FROM u),
        |agg AS (SELECT label, pos, count(*) AS n,
        |    SUM(CAST(x AS DECIMAL(28,12))) AS s FROM m GROUP BY label, pos)
        |SELECT label, CAST(n AS BIGINT) AS n_vecs, CAST(pos AS INT) AS pos,
        |  round(CAST(s AS DOUBLE) / n, 6) AS c
        |FROM agg""".stripMargin,
    "decontam_ngram" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
        |     for i in range(1, len(w) - 3)])) AS gram
        |  FROM toks WHERE len(w) >= 5),
        |hits AS (SELECT g.doc_id AS train_id, g.gram FROM g
        |  WHERE g.doc_id % 2 = 0
        |    AND g.gram IN (SELECT gram FROM g b WHERE b.doc_id % 2 = 1))
        |SELECT train_id, CAST(count(*) AS BIGINT) AS n_hit_grams,
        |  min(gram) AS first_hit
        |FROM hits GROUP BY train_id""".stripMargin,
    // Bloom: every coordinate replays — salted-md5 positions, 32-bit
    // lanes packed into BIGINT words by bit_or, probes via (bits >> bit)
    // & 1 on a LEFT join (absent word = unset), bool_and over the k
    // probes; the exact side is the same distinct-member left join.
    "bloom_decontam" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |hs AS (SELECT unnest(range(0, 4)) AS h),
        |bp AS (SELECT ('0x' || substr(md5('bf' || h || ':' || text), 1, 8))::BIGINT % 8192 AS pos
        |  FROM (SELECT text FROM d WHERE doc_id % 97 = 0) m, hs),
        |w AS (SELECT CAST(pos // 32 AS INT) AS widx,
        |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
        |  FROM bp GROUP BY pos // 32),
        |pp AS (SELECT doc_id, ('0x' || substr(md5('bf' || h || ':' || text), 1, 8))::BIGINT % 8192 AS pos
        |  FROM d, hs),
        |ph AS (SELECT doc_id,
        |    COALESCE(((w.bits >> CAST(pos % 32 AS INT)) & 1) = 1, FALSE) AS hit
        |  FROM pp LEFT JOIN w ON CAST(pos // 32 AS INT) = w.widx),
        |bl AS (SELECT doc_id, bool_and(hit) AS bloom_hit FROM ph GROUP BY doc_id),
        |b AS (SELECT DISTINCT text FROM d WHERE doc_id % 97 = 0),
        |ex AS (SELECT d.doc_id, (b.text IS NOT NULL) AS exact_hit
        |  FROM d LEFT JOIN b ON d.text = b.text)
        |SELECT bl.doc_id, bloom_hit, exact_hit
        |FROM bl JOIN ex ON bl.doc_id = ex.doc_id""".stripMargin,
    "lm_score" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
        |vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |n AS (SELECT count(*) AS n_total FROM tok)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |  round(CAST(SUM(tf * CAST(round(ln(CAST(cnt AS DOUBLE) / n_total), 6)
        |    AS DECIMAL(18,6))) AS DOUBLE) / SUM(tf), 6) AS avg_logprob
        |FROM tf JOIN vocab USING (token), n GROUP BY doc_id""".stripMargin,
    "lm_bigram" ->
      """WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |bi AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bigram FROM tok),
        |tf AS (SELECT doc_id, bigram, count(*) AS tf FROM bi GROUP BY doc_id, bigram),
        |vb AS (SELECT bigram, SUM(tf) AS cnt_bi FROM tf GROUP BY bigram),
        |vc AS (SELECT split_part(bigram, ' ', 1) AS ctx, SUM(cnt_bi) AS cnt_ctx FROM vb GROUP BY 1),
        |probs AS (SELECT bigram,
        |    CAST(round(ln(CAST(cnt_bi AS DOUBLE) / cnt_ctx), 6) AS DECIMAL(18,6)) AS lp
        |  FROM vb JOIN vc ON split_part(bigram, ' ', 1) = ctx)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(tf * lp) AS DOUBLE) / SUM(tf) AS avg_logprob
        |FROM tf JOIN probs USING (bigram) GROUP BY doc_id""".stripMargin,
    // Kneser-Ney replay: the probability expression is parenthesized
    // EXACTLY as the Spark side computes it — (c-D)/cv + D*n1f/cv *
    // (n1b/N) — so every FP step is the same correctly-rounded op.
    "lm_kneser_ney" ->
      """WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |bi AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bigram FROM tok),
        |tf AS (SELECT doc_id, bigram, count(*) AS tf FROM bi GROUP BY doc_id, bigram),
        |vb AS (SELECT bigram, SUM(tf) AS cnt_bi FROM tf GROUP BY bigram),
        |vc AS (SELECT split_part(bigram, ' ', 1) AS ctx, SUM(cnt_bi) AS cnt_ctx,
        |    count(*) AS n1_fwd FROM vb GROUP BY 1),
        |vw AS (SELECT split_part(bigram, ' ', 2) AS wrd, count(*) AS n1_back
        |  FROM vb GROUP BY 1),
        |nt AS (SELECT count(*) AS n_types FROM vb),
        |probs AS (SELECT bigram,
        |    CAST(round(ln(
        |      (cnt_bi - 0.75) / cnt_ctx +
        |      0.75 * n1_fwd / cnt_ctx * (CAST(n1_back AS DOUBLE) / n_types)), 6)
        |      AS DECIMAL(18,6)) AS lp
        |  FROM vb
        |  JOIN vc ON split_part(bigram, ' ', 1) = ctx
        |  JOIN vw ON split_part(bigram, ' ', 2) = wrd
        |  CROSS JOIN nt)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(tf * lp) AS DOUBLE) / SUM(tf) AS avg_logprob_kn
        |FROM tf JOIN probs USING (bigram) GROUP BY doc_id""".stripMargin,
    // Trigram KN replay — the bigram oracle one order up: the five KN
    // statistics come from GROUP BY restatements of the Spark side's
    // partitioned windows (identical values), the distinct (w2,w3) pair
    // table carries the continuation counts, and the probability chain is
    // parenthesized IDENTICALLY to the Column expression.
    "lm_kn_trigram" ->
      """WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |tri AS (SELECT doc_id,
        |    unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS trigram
        |  FROM tok),
        |tf AS (SELECT doc_id, trigram, count(*) AS tf FROM tri GROUP BY doc_id, trigram),
        |vt AS (SELECT trigram, SUM(tf) AS cnt_tri FROM tf GROUP BY trigram),
        |vc AS (SELECT split_part(trigram, ' ', 1) AS c1, split_part(trigram, ' ', 2) AS c2,
        |    SUM(cnt_tri) AS cnt_ctx, count(*) AS n1_fwd FROM vt GROUP BY 1, 2),
        |vm AS (SELECT split_part(trigram, ' ', 2) AS m2, split_part(trigram, ' ', 3) AS m3,
        |    count(*) AS n1_mid FROM vt GROUP BY 1, 2),
        |vd AS (SELECT split_part(trigram, ' ', 2) AS d2, count(*) AS n1_dot2dot
        |  FROM vt GROUP BY 1),
        |pr AS (SELECT DISTINCT split_part(trigram, ' ', 2) AS p2,
        |    split_part(trigram, ' ', 3) AS p3 FROM vt),
        |p2s AS (SELECT p2, count(*) AS n1_w2dot FROM pr GROUP BY 1),
        |p3s AS (SELECT p3, count(*) AS n1_back FROM pr GROUP BY 1),
        |np AS (SELECT count(*) AS n_pairs FROM pr),
        |probs AS (SELECT trigram,
        |    CAST(round(ln(
        |      (cnt_tri - 0.75) / cnt_ctx +
        |      0.75 * n1_fwd / cnt_ctx *
        |      ((n1_mid - 0.75) / n1_dot2dot +
        |       0.75 * n1_w2dot / n1_dot2dot *
        |       (CAST(n1_back AS DOUBLE) / n_pairs))), 6)
        |      AS DECIMAL(18,6)) AS lp
        |  FROM vt
        |  JOIN vc ON split_part(trigram, ' ', 1) = c1 AND split_part(trigram, ' ', 2) = c2
        |  JOIN vm ON split_part(trigram, ' ', 2) = m2 AND split_part(trigram, ' ', 3) = m3
        |  JOIN vd ON split_part(trigram, ' ', 2) = d2
        |  JOIN p2s ON split_part(trigram, ' ', 2) = p2
        |  JOIN p3s ON split_part(trigram, ' ', 3) = p3
        |  CROSS JOIN np)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_trigrams,
        |  CAST(SUM(tf * lp) AS DOUBLE) / SUM(tf) AS avg_logprob_kn3
        |FROM tf JOIN probs USING (trigram) GROUP BY doc_id""".stripMargin,
    // Zipf replay: ln values round to 6dp DECIMAL so the five sums are
    // exact; the OLS closed forms then run in doubles with the SAME
    // parenthesization as the Scala side — each step one correctly-
    // rounded op (the rounded slope is re-derived inside intercept
    // exactly as the engine recomputes the column expression).
    // Theil-Sen: the pairwise-slope frame is the SAME post-limit ranked
    // head; each slope is two subtractions + one division of identical
    // 6dp-rounded doubles, the median is the LOWER-MEDIAN convention
    // over (slope, ra, rb), and residuals re-derive the ROUNDED slope.
    "zipf_theil_sen" ->
      """WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
        |vocab AS (SELECT token, count(*) AS n FROM tok GROUP BY token
        |  ORDER BY n DESC, token LIMIT 1000),
        |ranked AS (SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rank FROM vocab),
        |pts AS (SELECT rank, round(ln(CAST(rank AS DOUBLE)), 6) AS x,
        |    round(ln(CAST(n AS DOUBLE)), 6) AS y FROM ranked),
        |pr AS (SELECT a.rank AS ra, b.rank AS rb, (b.y - a.y) / (b.x - a.x) AS s
        |  FROM pts a JOIN pts b ON a.rank < b.rank AND a.x <> b.x),
        |sm AS (SELECT round(s, 6) AS slope, n AS npairs FROM
        |    (SELECT s, row_number() OVER (ORDER BY s, ra, rb) AS rn,
        |       count(*) OVER () AS n FROM pr)
        |  WHERE rn = (n + 1) // 2),
        |res AS (SELECT sm.slope, sm.npairs, p.rank, p.y - sm.slope * p.x AS r
        |  FROM pts p CROSS JOIN sm)
        |SELECT CAST(np AS BIGINT) AS n_points, CAST(npairs AS BIGINT) AS n_pairs,
        |  slope, round(r, 6) AS intercept
        |FROM (SELECT slope, npairs, r, row_number() OVER (ORDER BY r, rank) AS rn,
        |    count(*) OVER () AS np FROM res)
        |WHERE rn = (np + 1) // 2""".stripMargin,
    "zipf_fit" ->
      """WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
        |vocab AS (SELECT token, count(*) AS n FROM tok GROUP BY token
        |  ORDER BY n DESC, token LIMIT 1000),
        |ranked AS (SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rank FROM vocab),
        |xy AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
        |    CAST(round(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y FROM ranked),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_ranks,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x*y) AS DOUBLE) AS sxy, CAST(SUM(x*x) AS DOUBLE) AS sxx,
        |    CAST(SUM(y*y) AS DOUBLE) AS syy FROM xy)
        |SELECT n_ranks,
        |  round((n_ranks * sxy - sx * sy) / (n_ranks * sxx - sx * sx), 6) AS slope,
        |  round((sy - round((n_ranks * sxy - sx * sy) / (n_ranks * sxx - sx * sx), 6) * sx)
        |    / n_ranks, 6) AS intercept,
        |  round(((n_ranks * sxy - sx * sy) * (n_ranks * sxy - sx * sy))
        |    / ((n_ranks * sxx - sx * sx) * (n_ranks * syy - sy * sy)), 6) AS r2
        |FROM s""".stripMargin,
    "zipf_by_source" ->
      """WITH tok AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
        |vocab AS (SELECT source, token, count(*) AS n FROM tok GROUP BY source, token),
        |ranked AS (SELECT source, n,
        |    row_number() OVER (PARTITION BY source ORDER BY n DESC, token) AS rank FROM vocab),
        |xy AS (SELECT source,
        |    CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
        |    CAST(round(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
        |  FROM ranked WHERE rank <= 1000),
        |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_ranks,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x*y) AS DOUBLE) AS sxy, CAST(SUM(x*x) AS DOUBLE) AS sxx,
        |    CAST(SUM(y*y) AS DOUBLE) AS syy FROM xy GROUP BY source)
        |SELECT source, n_ranks,
        |  round((n_ranks * sxy - sx * sy) / (n_ranks * sxx - sx * sx), 6) AS slope,
        |  round((sy - round((n_ranks * sxy - sx * sy) / (n_ranks * sxx - sx * sx), 6) * sx)
        |    / n_ranks, 6) AS intercept,
        |  round(((n_ranks * sxy - sx * sy) * (n_ranks * sxy - sx * sy))
        |    / ((n_ranks * sxx - sx * sx) * (n_ranks * syy - sy * sy)), 6) AS r2
        |FROM s""".stripMargin,
    // Self-BLEU: exact integer clip/total per order (c_rest = total − c
    // needs no pair join); each ln rounds to 6dp DECIMAL (the bm25
    // convention), the 4-term sum is exact decimal, /4 after one double
    // cast; NULL when any order has zero clipped overlap.
    "self_bleu" ->
      """WITH t AS (SELECT source,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |g AS (SELECT source, 1 AS n, unnest(w) AS g FROM t
        |  UNION ALL SELECT source, 2, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) FROM t
        |  UNION ALL SELECT source, 3, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) FROM t
        |  UNION ALL SELECT source, 4, unnest(list_transform(range(1, len(w) - 2),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) FROM t),
        |counts AS (SELECT source, n, g, count(*) AS c FROM g GROUP BY source, n, g),
        |tot AS (SELECT n, g, SUM(c) AS tt FROM counts GROUP BY n, g),
        |ps AS (SELECT source, n, SUM(c) AS total, SUM(least(c, tt - c)) AS clip
        |  FROM counts JOIN tot USING (n, g) GROUP BY source, n),
        |pl AS (SELECT source, n, total, clip,
        |    CASE WHEN clip > 0 THEN CAST(round(ln(CAST(clip AS DOUBLE) / total), 6)
        |      AS DECIMAL(18,6)) END AS logp
        |  FROM ps)
        |SELECT source,
        |  CAST(max(CASE WHEN n = 1 THEN total END) AS BIGINT) AS tot1,
        |  CAST(max(CASE WHEN n = 1 THEN clip END) AS BIGINT) AS clip1,
        |  CAST(max(CASE WHEN n = 2 THEN total END) AS BIGINT) AS tot2,
        |  CAST(max(CASE WHEN n = 2 THEN clip END) AS BIGINT) AS clip2,
        |  CAST(max(CASE WHEN n = 3 THEN total END) AS BIGINT) AS tot3,
        |  CAST(max(CASE WHEN n = 3 THEN clip END) AS BIGINT) AS clip3,
        |  CAST(max(CASE WHEN n = 4 THEN total END) AS BIGINT) AS tot4,
        |  CAST(max(CASE WHEN n = 4 THEN clip END) AS BIGINT) AS clip4,
        |  CASE WHEN count(logp) = 4 THEN CAST(SUM(logp) AS DOUBLE) / 4 END AS log_p_geo
        |FROM pl GROUP BY source""".stripMargin,
    // Heaps: the zipf_by_source OLS replay over |sources| log-log points
    "heaps_law" ->
      """WITH tok0 AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents),
        |tok AS (SELECT source, t FROM tok0 WHERE t <> ''),
        |vc AS (SELECT source, t, count(*) AS c FROM tok GROUP BY source, t),
        |pts AS (SELECT source, SUM(c) AS n_tokens, count(*) AS n_vocab FROM vc GROUP BY source),
        |xy AS (SELECT CAST(round(ln(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
        |    CAST(round(ln(CAST(n_vocab AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y FROM pts),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS DOUBLE) AS sx,
        |    CAST(SUM(y) AS DOUBLE) AS sy, CAST(SUM(x*y) AS DOUBLE) AS sxy,
        |    CAST(SUM(x*x) AS DOUBLE) AS sxx, CAST(SUM(y*y) AS DOUBLE) AS syy FROM xy)
        |SELECT n AS n_sources,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
        |  round((sy - round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) * sx)
        |    / n, 6) AS log_k,
        |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
        |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM s""".stripMargin,
    // Stupid-backoff replay: model counts off the even half, test
    // trigrams off the odd half, the three-branch CASE with identical
    // ratios, 0.4 / 0.16 pinned literals, ln 6dp-DECIMAL doc sums.
    "lm_stupid_backoff" ->
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '') AS w FROM documents WHERE text IS NOT NULL),
        |mtok AS (SELECT unnest(w) AS t FROM tok WHERE doc_id % 2 = 0),
        |t1 AS (SELECT t, count(*) AS c FROM mtok GROUP BY t),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM mtok),
        |m2 AS (SELECT unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS g FROM tok WHERE doc_id % 2 = 0),
        |t2 AS (SELECT g, count(*) AS c FROM m2 GROUP BY g),
        |m3 AS (SELECT unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g FROM tok WHERE doc_id % 2 = 0),
        |t3 AS (SELECT g, count(*) AS c FROM m3 GROUP BY g),
        |test AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tri
        |  FROM tok WHERE doc_id % 2 = 1),
        |tf AS (SELECT doc_id, tri, count(*) AS tf FROM test GROUP BY doc_id, tri),
        |parts AS (SELECT doc_id, tri, tf, string_split(tri, ' ') AS p FROM tf),
        |sc AS (SELECT doc_id, tf,
        |    CASE WHEN t3.c IS NOT NULL THEN CAST(t3.c AS DOUBLE) / c12.c
        |         WHEN c23.c IS NOT NULL THEN 0.4 * (CAST(c23.c AS DOUBLE) / c2.c)
        |         ELSE 0.16 * (CAST(greatest(coalesce(c3.c, 0), 1) AS DOUBLE) / n)
        |    END AS s,
        |    CASE WHEN t3.c IS NOT NULL THEN 3
        |         WHEN c23.c IS NOT NULL THEN 2 ELSE 1 END AS b
        |  FROM parts
        |  LEFT JOIN t3 ON t3.g = tri
        |  LEFT JOIN t2 c12 ON c12.g = p[1] || ' ' || p[2]
        |  LEFT JOIN t2 c23 ON c23.g = p[2] || ' ' || p[3]
        |  LEFT JOIN t1 c2 ON c2.t = p[2]
        |  LEFT JOIN t1 c3 ON c3.t = p[3], nn)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_trigrams,
        |  CAST(SUM(tf * CAST(round(ln(s), 6) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS sum_logscore,
        |  CAST(SUM(CASE WHEN b = 3 THEN tf ELSE 0 END) AS BIGINT) AS n_tri_hit,
        |  CAST(SUM(CASE WHEN b = 2 THEN tf ELSE 0 END) AS BIGINT) AS n_bi_hit,
        |  CAST(SUM(CASE WHEN b = 1 THEN tf ELSE 0 END) AS BIGINT) AS n_uni_hit
        |FROM sc GROUP BY doc_id""".stripMargin,
    // Burstiness replay: deterministic (count desc, token) top-30, then
    // the identical VMR chain off integer sums.
    "token_burstiness" ->
      """WITH tok0 AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT doc_id, t, count(*) AS x FROM tok0 WHERE t <> '' GROUP BY doc_id, t),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS ndocs FROM documents WHERE text IS NOT NULL),
        |top AS (SELECT t, CAST(SUM(x) AS BIGINT) AS n_total,
        |    CAST(count(*) AS BIGINT) AS n_docs_with,
        |    CAST(SUM(x * x) AS BIGINT) AS sx2
        |  FROM tf GROUP BY t ORDER BY n_total DESC, t LIMIT 30),
        |st AS (SELECT t AS token, n_total, n_docs_with,
        |    CAST(n_total AS DOUBLE) / CAST(ndocs AS DOUBLE) AS mean,
        |    CAST(sx2 AS DOUBLE) / CAST(ndocs AS DOUBLE) AS ex2,
        |    CAST(n_docs_with AS DOUBLE) / CAST(ndocs AS DOUBLE) AS dr
        |  FROM top, nd)
        |SELECT token, n_total, n_docs_with, round(dr, 6) AS doc_ratio,
        |  round((ex2 - mean * mean) / mean, 6) AS vmr
        |FROM st""".stripMargin,
    // Gini replay: the same spectrum construction — integer
    // position-weighted sum (shift-halved triangular term), two final
    // divisions identically parenthesized.
    "vocab_gini" ->
      """WITH tok0 AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents),
        |tf AS (SELECT source, t, count(*) AS f FROM tok0 WHERE t <> '' GROUP BY source, t),
        |spec AS (SELECT source, f, count(*) AS vf FROM tf GROUP BY source, f),
        |c AS (SELECT source, f, vf,
        |    sum(vf) OVER (PARTITION BY source ORDER BY f
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - vf AS cumex
        |  FROM spec),
        |agg AS (SELECT source, CAST(SUM(f * vf) AS BIGINT) AS n_tokens,
        |    CAST(SUM(vf) AS BIGINT) AS n_vocab,
        |    CAST(SUM(f * (vf * cumex + ((vf * (vf + 1)) >> 1))) AS BIGINT) AS s
        |  FROM c GROUP BY source)
        |SELECT source, n_tokens, n_vocab,
        |  round(2.0 * CAST(s AS DOUBLE) / (CAST(n_vocab AS DOUBLE) * CAST(n_tokens AS DOUBLE))
        |    - (CAST(n_vocab AS DOUBLE) + 1.0) / CAST(n_vocab AS DOUBLE), 6) AS gini
        |FROM agg""".stripMargin,
    // Entropy-rate replay: context totals via the first-token-partitioned
    // window, ln terms 6dp-DECIMAL, terminal divisions unrounded.
    "entropy_rate" ->
      """WITH tok AS (SELECT list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '') AS w FROM documents WHERE text IS NOT NULL),
        |bg AS (SELECT unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS bigram FROM tok),
        |cnt AS (SELECT bigram, count(*) AS c,
        |    string_split(bigram, ' ')[1] AS w1
        |  FROM bg GROUP BY bigram),
        |ctx AS (SELECT bigram, c, w1,
        |    sum(c) OVER (PARTITION BY w1) AS cctx
        |  FROM cnt),
        |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt),
        |a AS (SELECT CAST(max(n) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_bigram_types,
        |    CAST(count(DISTINCT w1) AS BIGINT) AS n_contexts,
        |    SUM(c * CAST(round(ln(CAST(c AS DOUBLE) / CAST(cctx AS DOUBLE)), 6)
        |      AS DECIMAL(18,6))) AS hcsum,
        |    SUM(c * CAST(round(ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |      AS DECIMAL(18,6))) AS hbsum
        |  FROM ctx, nn)
        |SELECT n AS n_bigrams, n_bigram_types, n_contexts,
        |  0.0 - CAST(hcsum AS DOUBLE) / CAST(n AS DOUBLE) AS h_rate_nats,
        |  0.0 - CAST(hbsum AS DOUBLE) / CAST(n AS DOUBLE) AS h_bigram_nats
        |FROM a""".stripMargin,
    // MI replay: marginals via partitioned windows on the count table,
    // ln args all integer-valued-double single-op chains, pair terms
    // 6dp-DECIMAL (order-free), terminal divisions unrounded.
    "source_token_mi" ->
      """WITH tok0 AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents),
        |tok AS (SELECT source, t FROM tok0 WHERE t <> ''),
        |cnt AS (SELECT source, t, count(*) AS c FROM tok GROUP BY source, t),
        |marg AS (SELECT source, t, c,
        |    sum(c) OVER (PARTITION BY source) AS cs,
        |    sum(c) OVER (PARTITION BY t) AS ct
        |  FROM cnt),
        |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt),
        |pa AS (SELECT CAST(max(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_pairs,
        |    SUM(c * CAST(round(ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
        |      / (CAST(cs AS DOUBLE) * CAST(ct AS DOUBLE))), 6) AS DECIMAL(18,6))) AS misum
        |  FROM marg, nn),
        |sa AS (SELECT source, SUM(c) AS cs2 FROM cnt GROUP BY source),
        |ha AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
        |    SUM(cs2 * CAST(round(ln(CAST(cs2 AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |      AS DECIMAL(18,6))) AS hsum
        |  FROM sa, nn),
        |f AS (SELECT n_pairs, n AS n_tokens, n_sources,
        |    CAST(misum AS DOUBLE) / CAST(n AS DOUBLE) AS mi_nats,
        |    0.0 - CAST(hsum AS DOUBLE) / CAST(n AS DOUBLE) AS h_source
        |  FROM pa, ha)
        |SELECT n_pairs, n_tokens, n_sources, mi_nats, h_source,
        |  CASE WHEN h_source > 0 THEN mi_nats / h_source END AS uncertainty_coef
        |FROM f""".stripMargin,
    // Chao1/coverage replay: integer spectrum sums, single-op chains,
    // unrounded outputs.
    "chao1_richness" ->
      """WITH tok0 AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents),
        |tok AS (SELECT source, t FROM tok0 WHERE t <> ''),
        |tf AS (SELECT source, t, count(*) AS tf FROM tok GROUP BY source, t),
        |agg AS (SELECT source, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_vocab,
        |    CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |    CAST(SUM(CASE WHEN tf = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_doubletons
        |  FROM tf GROUP BY source)
        |SELECT source, n_tokens, n_vocab, n_hapax, n_doubletons,
        |  CAST(n_vocab AS DOUBLE) + CAST(n_hapax AS DOUBLE) * (CAST(n_hapax AS DOUBLE) - 1.0)
        |    / (2.0 * (CAST(n_doubletons AS DOUBLE) + 1.0)) AS chao1,
        |  1.0 - CAST(n_hapax AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS coverage
        |FROM agg""".stripMargin,
    // Yule's K replay: every statistic is integer sums down to one or two
    // correctly-rounded double ops, identically parenthesized.
    "yule_k" ->
      """WITH tok0 AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents),
        |tok AS (SELECT source, t FROM tok0 WHERE t <> ''),
        |tf AS (SELECT source, t, count(*) AS tf FROM tok GROUP BY source, t),
        |agg AS (SELECT source, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_vocab,
        |    CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |    CAST(SUM(tf * tf) AS BIGINT) AS f2 FROM tf GROUP BY source)
        |SELECT source, n_tokens, n_vocab, n_hapax,
        |  round(CAST(n_vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
        |  round(CAST(n_hapax AS DOUBLE) / CAST(n_vocab AS DOUBLE), 6) AS hapax_ratio,
        |  round(10000.0 * CAST(f2 - n_tokens AS DOUBLE)
        |    / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 6) AS yule_k
        |FROM agg""".stripMargin,
    // JSD replay: count-weighted form over the source-vs-rest grid —
    // integer weights × 6dp-DECIMAL ln factors (order-free sums), p/q/m
    // fixed-parenthesization single-op chains.
    "js_divergence" ->
      """WITH tok0 AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents),
        |tok AS (SELECT source, t FROM tok0 WHERE t <> ''),
        |cnt AS (SELECT source, t, count(*) AS c FROM tok GROUP BY source, t),
        |gv AS (SELECT t, SUM(c) AS g FROM cnt GROUP BY t),
        |srcs AS (SELECT DISTINCT source FROM cnt),
        |grid AS (SELECT s.source, gv.g, coalesce(c.c, 0) AS c
        |  FROM srcs s CROSS JOIN gv
        |  LEFT JOIN cnt c ON c.source = s.source AND c.t = gv.t),
        |wt AS (SELECT source, c, g - c AS r,
        |    sum(c) OVER (PARTITION BY source) AS nin,
        |    sum(g - c) OVER (PARTITION BY source) AS nrest
        |  FROM grid),
        |pq AS (SELECT source, c, r, nin, nrest,
        |    CAST(c AS DOUBLE) / CAST(nin AS DOUBLE) AS p,
        |    CASE WHEN nrest > 0 THEN CAST(r AS DOUBLE) / CAST(nrest AS DOUBLE)
        |      ELSE 0.0 END AS q
        |  FROM wt),
        |m AS (SELECT source, c, r, nin, nrest, p, q, (p + q) / 2.0 AS mm FROM pq),
        |terms AS (SELECT source, nin, nrest,
        |    CASE WHEN c > 0 THEN c * CAST(round(ln(p / mm), 6) AS DECIMAL(18,6)) END AS ta,
        |    CASE WHEN r > 0 THEN r * CAST(round(ln(q / mm), 6) AS DECIMAL(18,6)) END AS tb
        |  FROM m)
        |SELECT source, CAST(max(nin) AS BIGINT) AS n_in,
        |  CAST(max(nrest) AS BIGINT) AS n_rest,
        |  CASE WHEN max(nrest) > 0 THEN round((CAST(sum(ta) AS DOUBLE) / CAST(max(nin) AS DOUBLE)
        |    + CAST(sum(tb) AS DOUBLE) / CAST(max(nrest) AS DOUBLE)) / 2.0, 6) END AS jsd
        |FROM terms GROUP BY source""".stripMargin,
    "token_entropy" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
        |agg AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(tf * CAST(round(ln(CAST(tf AS DOUBLE)), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_tlnt
        |  FROM tf GROUP BY doc_id),
        |e AS (SELECT doc_id, n_tokens, n_distinct,
        |    round(ln(CAST(n_tokens AS DOUBLE)) - sum_tlnt / n_tokens, 6) + 0.0 AS entropy FROM agg)
        |SELECT doc_id, n_tokens, n_distinct, entropy,
        |  CASE WHEN n_distinct > 1 THEN round(entropy / ln(CAST(n_distinct AS DOUBLE)), 6) + 0.0
        |       ELSE 0.0 END AS entropy_ratio
        |FROM e""".stripMargin,
    "ngram_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |    unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])) AS shingle
        |  FROM toks WHERE len(w) >= 3),
        |dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |  round(CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS novelty
        |FROM sh JOIN dfq USING (shingle) GROUP BY doc_id""".stripMargin,
    "pit_fact" ->
      """WITH snap1 AS (SELECT c_custkey, c_mktsegment, c_acctbal,
        |    DATE '1995-01-01' AS snap_date FROM customer),
        |snap2 AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 11 = 0 THEN 'MACHINERY' ELSE c_mktsegment END AS c_mktsegment,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
        |    DATE '1998-01-01' AS snap_date FROM customer),
        |snaps AS (SELECT * FROM snap1 UNION ALL SELECT * FROM snap2),
        |v AS (SELECT *, lag(c_mktsegment) OVER w AS p_seg, lag(c_acctbal) OVER w AS p_bal,
        |    (lag(snap_date) OVER w) IS NULL AS is_first
        |  FROM snaps WINDOW w AS (PARTITION BY c_custkey ORDER BY snap_date)),
        |kept AS (SELECT c_custkey, c_mktsegment, c_acctbal, snap_date FROM v
        |  WHERE is_first OR c_mktsegment IS DISTINCT FROM p_seg OR c_acctbal IS DISTINCT FROM p_bal),
        |dim AS (SELECT c_custkey, c_mktsegment, c_acctbal, snap_date AS valid_from,
        |    lead(snap_date) OVER (PARTITION BY c_custkey ORDER BY snap_date) AS valid_to FROM kept)
        |SELECT o.o_orderkey, o.o_custkey, CAST(o.o_orderdate AS DATE) AS order_date,
        |  d.c_mktsegment, d.c_acctbal, d.valid_from
        |FROM orders o LEFT JOIN dim d
        |  ON o.o_custkey = d.c_custkey
        | AND CAST(o.o_orderdate AS DATE) >= d.valid_from
        | AND (d.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < d.valid_to)""".stripMargin,
    "scd2_merge" ->
      """WITH base AS (SELECT * FROM customer WHERE c_custkey % 4 <> 0),
        |snap1 AS (SELECT c_custkey, c_mktsegment, c_acctbal,
        |    DATE '1995-01-01' AS snap_date FROM base),
        |snap2 AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 11 = 0 THEN 'MACHINERY' ELSE c_mktsegment END AS c_mktsegment,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
        |    DATE '1998-01-01' AS snap_date FROM base),
        |snaps AS (SELECT * FROM snap1 UNION ALL SELECT * FROM snap2),
        |v AS (SELECT *, lag(c_mktsegment) OVER w AS p_seg, lag(c_acctbal) OVER w AS p_bal,
        |    (lag(snap_date) OVER w) IS NULL AS is_first
        |  FROM snaps WINDOW w AS (PARTITION BY c_custkey ORDER BY snap_date)),
        |kept AS (SELECT c_custkey, c_mktsegment, c_acctbal, snap_date FROM v
        |  WHERE is_first OR c_mktsegment IS DISTINCT FROM p_seg OR c_acctbal IS DISTINCT FROM p_bal),
        |dim AS (SELECT c_custkey, c_mktsegment, c_acctbal, snap_date AS valid_from,
        |    lead(snap_date) OVER (PARTITION BY c_custkey ORDER BY snap_date) AS valid_to FROM kept),
        |dim2 AS (SELECT *, valid_to IS NULL AS is_current FROM dim),
        |snap3 AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'AUTOMOBILE' ELSE c_mktsegment END AS c_mktsegment,
        |    CASE WHEN c_custkey % 9 = 0 THEN c_acctbal + 25.0 ELSE c_acctbal END AS c_acctbal,
        |    DATE '2001-01-01' AS snap_date FROM customer),
        |hist AS (SELECT c_custkey, c_mktsegment, c_acctbal, valid_from, valid_to, is_current
        |  FROM dim2 WHERE NOT is_current),
        |cur AS (SELECT * FROM dim2 WHERE is_current),
        |pass AS (SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal, c.valid_from, c.valid_to, c.is_current
        |  FROM cur c LEFT JOIN snap3 s USING (c_custkey)
        |  WHERE s.c_custkey IS NULL
        |     OR (c.c_mktsegment IS NOT DISTINCT FROM s.c_mktsegment
        |         AND c.c_acctbal IS NOT DISTINCT FROM s.c_acctbal)),
        |closed AS (SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal, c.valid_from,
        |    s.snap_date AS valid_to, false AS is_current
        |  FROM cur c JOIN snap3 s USING (c_custkey)
        |  WHERE c.c_mktsegment IS DISTINCT FROM s.c_mktsegment
        |     OR c.c_acctbal IS DISTINCT FROM s.c_acctbal),
        |opened AS (SELECT s.c_custkey, s.c_mktsegment, s.c_acctbal,
        |    s.snap_date AS valid_from, CAST(NULL AS DATE) AS valid_to, true AS is_current
        |  FROM snap3 s LEFT JOIN cur c USING (c_custkey)
        |  WHERE c.c_custkey IS NULL
        |     OR c.c_mktsegment IS DISTINCT FROM s.c_mktsegment
        |     OR c.c_acctbal IS DISTINCT FROM s.c_acctbal)
        |SELECT * FROM hist UNION ALL SELECT * FROM pass
        |UNION ALL SELECT * FROM closed UNION ALL SELECT * FROM opened""".stripMargin,
    "vocab_top" ->
      """WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
        |counts AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
        |ranked AS (SELECT token, CAST(n AS BIGINT) AS n,
        |    CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS rank FROM counts)
        |SELECT token, n, rank FROM ranked WHERE rank <= 30""".stripMargin,
    "cms_counts" ->
      """WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
        |rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
        |cells AS (SELECT r,
        |    ('0x' || substr(md5('cms' || r || ':' || token), 1, 8))::BIGINT % 1024 AS b,
        |    count(*) AS cell
        |  FROM tok, rs GROUP BY r, b),
        |exact AS (SELECT token, count(*) AS exact_n FROM tok GROUP BY token
        |  ORDER BY exact_n DESC, token LIMIT 30),
        |probes AS (SELECT token, exact_n, r,
        |    ('0x' || substr(md5('cms' || r || ':' || token), 1, 8))::BIGINT % 1024 AS b
        |  FROM exact, rs)
        |SELECT p.token, CAST(p.exact_n AS BIGINT) AS exact_n,
        |  CAST(min(c.cell) AS BIGINT) AS cms_n,
        |  CAST(min(c.cell) - p.exact_n AS BIGINT) AS overcount
        |FROM probes p JOIN cells c ON p.r = c.r AND p.b = c.b
        |GROUP BY p.token, p.exact_n""".stripMargin,
    // AMS F2: the full median-of-means chain replays — 96 ±1 signs from
    // the first three 32-bit md5 words (below 2^63 throughout), Z sums
    // are integers, group means divide by 16 (dyadic-exact) and the even
    // median averages two order statistics (one correctly-rounded op);
    // rel_err is identically parenthesized on both sides.
    "f2_sketch" ->
      """WITH r AS (SELECT md5(CAST(l_orderkey AS VARCHAR)) AS h FROM lineitem
        |    WHERE l_orderkey IS NOT NULL),
        |w AS (SELECT ('0x' || substr(h, 1, 8))::BIGINT AS w0,
        |    ('0x' || substr(h, 9, 8))::BIGINT AS w1,
        |    ('0x' || substr(h, 17, 8))::BIGINT AS w2 FROM r),
        |z AS (SELECT i, SUM(1 - 2 * (((CASE i // 32 WHEN 0 THEN w0 WHEN 1 THEN w1
        |      ELSE w2 END) >> CAST(i % 32 AS INT)) & 1)) AS z
        |  FROM w, (SELECT unnest(range(0, 96)) AS i) est GROUP BY i),
        |m AS (SELECT i // 16 AS g, CAST(SUM(z * z) AS DOUBLE) / 16 AS mean
        |  FROM z GROUP BY i // 16),
        |med AS (SELECT list_sort(list(mean)) AS ms FROM m),
        |est AS (SELECT (ms[3] + ms[4]) / 2 AS f2_est FROM med),
        |ex AS (SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(c * c) AS BIGINT) AS f2_exact
        |  FROM (SELECT count(*) AS c FROM lineitem
        |    WHERE l_orderkey IS NOT NULL GROUP BY l_orderkey))
        |SELECT n_rows, n_keys, f2_exact, f2_est,
        |  round((f2_est - f2_exact) / f2_exact, 6) AS rel_err
        |FROM ex, est""".stripMargin,
    "join_size_est" ->
      """WITH ra AS (SELECT md5(CAST(user_id AS VARCHAR)) AS h FROM events
        |    WHERE user_id IS NOT NULL),
        |wa AS (SELECT ('0x' || substr(h, 1, 8))::BIGINT AS w0,
        |    ('0x' || substr(h, 9, 8))::BIGINT AS w1,
        |    ('0x' || substr(h, 17, 8))::BIGINT AS w2 FROM ra),
        |za AS (SELECT i, SUM(1 - 2 * (((CASE i // 32 WHEN 0 THEN w0 WHEN 1 THEN w1
        |      ELSE w2 END) >> CAST(i % 32 AS INT)) & 1)) AS zva
        |  FROM wa, (SELECT unnest(range(0, 96)) AS i) e GROUP BY i),
        |rb AS (SELECT md5(CAST(o_custkey AS VARCHAR)) AS h FROM orders
        |    WHERE o_custkey IS NOT NULL),
        |wb AS (SELECT ('0x' || substr(h, 1, 8))::BIGINT AS w0,
        |    ('0x' || substr(h, 9, 8))::BIGINT AS w1,
        |    ('0x' || substr(h, 17, 8))::BIGINT AS w2 FROM rb),
        |zb AS (SELECT i, SUM(1 - 2 * (((CASE i // 32 WHEN 0 THEN w0 WHEN 1 THEN w1
        |      ELSE w2 END) >> CAST(i % 32 AS INT)) & 1)) AS zvb
        |  FROM wb, (SELECT unnest(range(0, 96)) AS i) e GROUP BY i),
        |m AS (SELECT i // 16 AS g, CAST(SUM(zva * zvb) AS DOUBLE) / 16 AS mean
        |  FROM za JOIN zb USING (i) GROUP BY i // 16),
        |med AS (SELECT list_sort(list(mean)) AS ms FROM m),
        |est AS (SELECT (ms[3] + ms[4]) / 2 AS join_est FROM med),
        |ea AS (SELECT user_id AS k, count(*) AS ca FROM events
        |  WHERE user_id IS NOT NULL GROUP BY user_id),
        |eb AS (SELECT o_custkey AS k, count(*) AS cb FROM orders
        |  WHERE o_custkey IS NOT NULL GROUP BY o_custkey),
        |ex AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
        |    CAST(coalesce(SUM(ca * cb), 0) AS BIGINT) AS join_exact
        |  FROM ea FULL JOIN eb USING (k))
        |SELECT n_a, n_b, join_exact, join_est,
        |  CASE WHEN join_exact > 0
        |       THEN round((join_est - join_exact) / join_exact, 6) END AS rel_err
        |FROM ex, est""".stripMargin,
    "f2_by_source" ->
      """WITH tok0 AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS token
        |    FROM documents),
        |tok AS (SELECT source, token FROM tok0 WHERE token <> ''),
        |r AS (SELECT source, md5(token) AS h FROM tok),
        |w AS (SELECT source, ('0x' || substr(h, 1, 8))::BIGINT AS w0,
        |    ('0x' || substr(h, 9, 8))::BIGINT AS w1,
        |    ('0x' || substr(h, 17, 8))::BIGINT AS w2 FROM r),
        |z AS (SELECT source, i, SUM(1 - 2 * (((CASE i // 32 WHEN 0 THEN w0 WHEN 1 THEN w1
        |      ELSE w2 END) >> CAST(i % 32 AS INT)) & 1)) AS z
        |  FROM w, (SELECT unnest(range(0, 96)) AS i) est GROUP BY source, i),
        |m AS (SELECT source, i // 16 AS g, CAST(SUM(z * z) AS DOUBLE) / 16 AS mean
        |  FROM z GROUP BY source, i // 16),
        |med AS (SELECT source, list_sort(list(mean)) AS ms FROM m GROUP BY source),
        |est AS (SELECT source, (ms[3] + ms[4]) / 2 AS f2_est FROM med),
        |ex AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(c * c) AS BIGINT) AS f2_exact
        |  FROM (SELECT source, token, count(*) AS c FROM tok GROUP BY source, token)
        |  GROUP BY source)
        |SELECT ex.source, n_rows, n_keys, f2_exact, f2_est,
        |  round((f2_est - f2_exact) / f2_exact, 6) AS rel_err
        |FROM ex JOIN est ON ex.source = est.source""".stripMargin,
    // HLL registers: bucket = first 2 md5 hex digits, ρ = 33 − len(bin(w))
    // over the next 8 (33 for w = 0) — bin() is unpadded in both engines,
    // so the register table is a pure integer computation.
    "hll_registers" ->
      """WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents),
        |rw AS (SELECT ('0x' || substr(md5(t), 1, 2))::BIGINT AS bucket,
        |    ('0x' || substr(md5(t), 3, 8))::BIGINT AS w FROM tok)
        |SELECT CAST(bucket AS INT) AS bucket,
        |  CAST(max(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS INT) AS r
        |FROM rw GROUP BY bucket""".stripMargin,
    // Estimate chain: 2^-r terms are dyadic (power() exact), the 256-term
    // sum spans 41 exponent bits (< 53) so it is exact in any order, and
    // the α·m²/s + linear-counting branch is identically parenthesized.
    "hll_estimate" ->
      """WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents),
        |rw AS (SELECT ('0x' || substr(md5(t), 1, 2))::BIGINT AS bucket,
        |    ('0x' || substr(md5(t), 3, 8))::BIGINT AS w FROM tok),
        |reg AS (SELECT bucket,
        |    max(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS r
        |  FROM rw GROUP BY bucket),
        |a AS (SELECT count(*) AS nb, sum(power(2.0, -r)) AS s FROM reg),
        |e AS (SELECT nb,
        |    (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / (s + CAST(256 - nb AS DOUBLE)) AS raw
        |  FROM a)
        |SELECT CAST(256 AS INT) AS m, CAST(nb AS INT) AS n_buckets,
        |  CAST(256 - nb AS INT) AS n_zero,
        |  round(raw, 4) AS raw_est,
        |  round(CASE WHEN raw <= 640.0 AND 256 - nb > 0
        |    THEN 256.0 * ln(256.0 / CAST(256 - nb AS DOUBLE)) ELSE raw END, 4) AS est
        |FROM e""".stripMargin,
    "hll_by_source" ->
      """WITH tok AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents),
        |rw AS (SELECT source, ('0x' || substr(md5(t), 1, 2))::BIGINT AS bucket,
        |    ('0x' || substr(md5(t), 3, 8))::BIGINT AS w FROM tok),
        |reg AS (SELECT source, bucket,
        |    max(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS r
        |  FROM rw GROUP BY source, bucket),
        |a AS (SELECT source, count(*) AS nb, sum(power(2.0, -r)) AS s
        |  FROM reg GROUP BY source),
        |e AS (SELECT source, nb,
        |    (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / (s + CAST(256 - nb AS DOUBLE)) AS raw
        |  FROM a)
        |SELECT source, CAST(256 AS INT) AS m, CAST(nb AS INT) AS n_buckets,
        |  CAST(256 - nb AS INT) AS n_zero,
        |  round(raw, 4) AS raw_est,
        |  round(CASE WHEN raw <= 640.0 AND 256 - nb > 0
        |    THEN 256.0 * ln(256.0 / CAST(256 - nb AS DOUBLE)) ELSE raw END, 4) AS est
        |FROM e""".stripMargin,
    // Union registers via per-pair bucket max (≡ the Spark side's dense
    // zip_with(greatest) — the max merge law makes both EXACTLY the
    // union's sketch); per-side and union estimates share the pinned
    // α/ln chain; est_intersect is one subtraction of rounded estimates.
    "hll_set_ops" ->
      """WITH tok AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents),
        |rw AS (SELECT source, ('0x' || substr(md5(t), 1, 2))::BIGINT AS bucket,
        |    ('0x' || substr(md5(t), 3, 8))::BIGINT AS w FROM tok),
        |reg AS (SELECT source, bucket,
        |    max(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS r
        |  FROM rw GROUP BY source, bucket),
        |src AS (SELECT DISTINCT source FROM reg),
        |sides AS (SELECT source, count(*) AS nb, sum(power(2.0, -r)) AS sp
        |  FROM reg GROUP BY source),
        |se AS (SELECT source,
        |    round(CASE WHEN raw <= 640.0 AND nz > 0
        |      THEN 256.0 * ln(256.0 / CAST(nz AS DOUBLE)) ELSE raw END, 4) AS est
        |  FROM (SELECT source,
        |      (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
        |        / (sp + CAST(256 - nb AS DOUBLE)) AS raw,
        |      256 - nb AS nz FROM sides)),
        |pairs AS (SELECT a.source AS sa, b.source AS sb
        |  FROM src a JOIN src b ON a.source < b.source),
        |ureg AS (SELECT p.sa, p.sb, r.bucket, max(r.r) AS ur
        |  FROM pairs p JOIN reg r ON r.source = p.sa OR r.source = p.sb
        |  GROUP BY p.sa, p.sb, r.bucket),
        |ua AS (SELECT sa, sb, count(*) AS nb, sum(power(2.0, -ur)) AS sp
        |  FROM ureg GROUP BY sa, sb),
        |ue AS (SELECT sa, sb,
        |    round(CASE WHEN raw <= 640.0 AND nz > 0
        |      THEN 256.0 * ln(256.0 / CAST(nz AS DOUBLE)) ELSE raw END, 4) AS est_union
        |  FROM (SELECT sa, sb,
        |      (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
        |        / (sp + CAST(256 - nb AS DOUBLE)) AS raw,
        |      256 - nb AS nz FROM ua))
        |SELECT u.sa AS source_a, u.sb AS source_b, ea.est AS est_a,
        |  eb.est AS est_b, u.est_union,
        |  round(ea.est + eb.est - u.est_union, 4) AS est_intersect
        |FROM ue u JOIN se ea ON ea.source = u.sa JOIN se eb ON eb.source = u.sb""".stripMargin,
    // Quantile sketch replay — the whole construction is integer/string
    // ops both engines share: v60 = 15 md5 hex digits (the cms/hll
    // convention), level = 60 − len(bin(v60)) (bin() unpadded in both),
    // the level choice a ≤ 61-candidate aggregate, and the estimate an
    // order statistic of the sorted survivor values at the all-integer
    // rank (p·m + 999) div 1000 — no floating arithmetic anywhere, so
    // row hashes match exactly.
    "quantile_sketch" ->
      """WITH r AS (SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS v60,
        |    CAST(o_totalprice AS DOUBLE) AS v FROM orders WHERE o_totalprice IS NOT NULL),
        |rl AS (SELECT v60, v,
        |    CASE WHEN v60 = 0 THEN 60 ELSE 60 - length(bin(v60)) END AS lmax FROM r),
        |hist AS (SELECT lmax, count(*) AS c FROM rl GROUP BY lmax),
        |cand AS (SELECT cl, SUM(c) AS n
        |  FROM hist, (SELECT unnest(range(0, 61)) AS cl) cls
        |  WHERE lmax >= cl GROUP BY cl),
        |ls AS (SELECT CAST(min(cl) AS INT) AS level FROM cand WHERE n <= 256),
        |nr AS (SELECT CAST(SUM(c) AS BIGINT) AS n_rows FROM hist),
        |sv AS (SELECT list_sort(list(v)) AS vals, CAST(count(*) AS BIGINT) AS n_survivors
        |  FROM rl, ls WHERE lmax >= level),
        |ps AS (SELECT unnest([10, 100, 250, 500, 750, 900, 990]) AS p)
        |SELECT CAST(p AS INT) AS p_permille,
        |  vals[CAST((p * n_survivors + 999) // 1000 AS INT)] AS est,
        |  ls.level, sv.n_survivors, nr.n_rows
        |FROM ps, sv, ls, nr""".stripMargin,
    "quantile_sketch_by" ->
      """WITH r AS (SELECT source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS v60,
        |    CAST(n_chars AS DOUBLE) AS v FROM documents WHERE n_chars IS NOT NULL),
        |rl AS (SELECT source, v60, v,
        |    CASE WHEN v60 = 0 THEN 60 ELSE 60 - length(bin(v60)) END AS lmax FROM r),
        |hist AS (SELECT source, lmax, count(*) AS c FROM rl GROUP BY source, lmax),
        |cand AS (SELECT source, cl, SUM(c) AS n
        |  FROM hist, (SELECT unnest(range(0, 61)) AS cl) cls
        |  WHERE lmax >= cl GROUP BY source, cl),
        |ls AS (SELECT source, CAST(min(cl) AS INT) AS level FROM cand
        |  WHERE n <= 128 GROUP BY source),
        |nr AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_rows FROM hist GROUP BY source),
        |sv AS (SELECT rl.source, ls.level, list_sort(list(v)) AS vals,
        |    CAST(count(*) AS BIGINT) AS n_survivors
        |  FROM rl JOIN ls ON rl.source = ls.source WHERE lmax >= level
        |  GROUP BY rl.source, ls.level),
        |ps AS (SELECT unnest([250, 500, 750, 900]) AS p)
        |SELECT sv.source, CAST(p AS INT) AS p_permille,
        |  vals[CAST((p * n_survivors + 999) // 1000 AS INT)] AS est,
        |  sv.level, sv.n_survivors, nr.n_rows
        |FROM ps, sv JOIN nr ON sv.source = nr.source""".stripMargin
  )
}
