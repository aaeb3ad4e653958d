package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.IngestDiscovery
/** Shared substrate for the per-family query/oracle registries (round 18
  * split of the former monolithic SparkEntry — VERDICT r17 #6): the
  * deterministic two-source slices, rule catalogs, planted-artifact
  * constants, per-dir training caches, pipeline zone roots, and every
  * DuckDB replay CTE builder the oracle SQL strings interpolate. One
  * object so a registry file can `import QueryShared._` and read exactly
  * as the monolith did; `private[graft]` so none of it becomes public
  * library surface. */
private[graft] object QueryShared {

  // ---- two-source simulation (SURVEY §3): deterministic slices of customer
  // with a deterministic mutation on the "SQL" side, so merge/recon/SCD2
  // queries have reproducible overlap and diffs at every SF.
  def srcA(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).filter(col("c_custkey") % 3 =!= 0)

  def srcB(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).filter(col("c_custkey") % 2 =!= 0)
      .withColumn("c_name",
        when(col("c_custkey") % 10 === 1, upper(col("c_name"))).otherwise(col("c_name")))
      .withColumn("c_acctbal",
        when(col("c_custkey") % 13 === 0, col("c_acctbal") + 50.0).otherwise(col("c_acctbal")))

  val SrcCte =
    """WITH src_a AS (SELECT * FROM customer WHERE c_custkey % 3 <> 0),
      |src_b AS (SELECT c_custkey,
      |    CASE WHEN c_custkey % 10 = 1 THEN upper(c_name) ELSE c_name END AS c_name,
      |    c_nationkey,
      |    CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 50.0 ELSE c_acctbal END AS c_acctbal,
      |    c_mktsegment
      |  FROM customer WHERE c_custkey % 2 <> 0)""".stripMargin

  // ---- dirty-orders simulation for the quality engine: deterministic
  // violations (null FK, nonpositive price, bad status, duplicated keys).
  // Pinned weight vector for quality_classify: w(b) = (b·2654435761 mod
  // 2^32)/2^32 − 0.5, a dyadic rational per bucket (denominator 2^32), so
  // every per-doc partial sum is EXACT in IEEE double and the logit
  // replays bit-identically from integer arithmetic in the oracle. A
  // trained parameter vector drops in through the same element_at carrier.
  val classifierWeights: Array[Double] = Array.tabulate(1024) { b =>
    ((b.toLong * 2654435761L) % 4294967296L).toDouble / 4294967296.0 - 0.5
  }

  def dirtyOrders(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir).select(
      col("o_orderkey"),
      when(col("o_orderkey") % 97 === 0, lit(null))
        .when(col("o_orderkey") % 79 === 0, lit(-1L))
        .otherwise(col("o_custkey")).as("o_custkey"),
      when(col("o_orderkey") % 89 === 0, -col("o_totalprice")).otherwise(col("o_totalprice")).as("o_totalprice"),
      when(col("o_orderkey") % 83 === 0, lit("X")).otherwise(col("o_orderstatus")).as("o_orderstatus"),
      lit(0).as("src"))
    base.unionByName(base.filter(col("o_orderkey") % 101 === 0).withColumn("src", lit(1)))
  }

  val DirtyCte =
    """WITH base AS (SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 97 = 0 THEN NULL
      |         WHEN o_orderkey % 79 = 0 THEN -1 ELSE o_custkey END AS o_custkey,
      |    CASE WHEN o_orderkey % 89 = 0 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice,
      |    CASE WHEN o_orderkey % 83 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
      |    0 AS src FROM orders),
      |dirty AS (SELECT * FROM base
      |  UNION ALL SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 1 AS src
      |  FROM base WHERE o_orderkey % 101 = 0),
      |flagged AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY src) AS rn FROM dirty),
      |annotated AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, src,
      |  concat_ws(' | ',
      |    CASE WHEN o_custkey IS NULL THEN 'null_custkey' END,
      |    CASE WHEN o_custkey IS NOT NULL
      |          AND o_custkey NOT IN (SELECT c_custkey FROM customer) THEN 'fk_customer' END,
      |    CASE WHEN o_totalprice <= 0 THEN 'nonpositive_price' END,
      |    CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 'bad_status' END,
      |    CASE WHEN rn > 1 THEN 'duplicate_key' END) AS _errors
      |  FROM flagged)""".stripMargin

  // ---- deterministically-dirtied §3 entities for the CATALOG audit
  // (quality_catalog): each entity gets its full reference rule set
  // (Quality.Catalogs) instantiated; dirt moduli are primes chosen so every
  // rule fires at the oracle scale. Synthetic contact columns (c_email,
  // c_phone, s_phone) mirror the reference's khach_hang sdt/email fields
  // (data_transformer.py:30-40), which the TPC-H-ish testdata lacks.
  def catalogCustomer(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      when(col("c_custkey") % 113 === 0, lit(null)).otherwise(col("c_custkey")).as("c_custkey"),
      when(col("c_custkey") % 107 === 0, lit("  "))
        .when(col("c_custkey") % 149 === 0, rpad(col("c_name"), 40, "x"))
        .otherwise(col("c_name")).as("c_name"),
      when(col("c_custkey") % 109 === 0, lit("bad email"))
        .otherwise(concat(lit("cust"), col("c_custkey").cast("string"), lit("@shop.vn")))
        .as("c_email"),
      when(col("c_custkey") % 127 === 0,
          concat(lit("x"), lpad(col("c_custkey").cast("string"), 8, "0")))
        .otherwise(lpad(col("c_custkey").cast("string"), 8, "0")).as("c_phone"),
      when(col("c_custkey") % 131 === 0, col("c_acctbal") + 20000)
        .otherwise(col("c_acctbal")).as("c_acctbal"),
      when(col("c_custkey") % 137 === 0, lit("UNKNOWN"))
        .otherwise(col("c_mktsegment")).as("c_mktsegment"),
      when(col("c_custkey") % 139 === 0, lit(99))
        .otherwise(col("c_nationkey")).as("c_nationkey"))

  def catalogOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      when(col("o_orderkey") % 97 === 0, lit(null))
        .when(col("o_orderkey") % 79 === 0, lit(-1L))
        .otherwise(col("o_custkey")).as("o_custkey"),
      when(col("o_orderkey") % 89 === 0, -col("o_totalprice"))
        .otherwise(col("o_totalprice")).as("o_totalprice"),
      when(col("o_orderkey") % 83 === 0, lit("X"))
        .otherwise(col("o_orderstatus")).as("o_orderstatus"),
      when(col("o_orderkey") % 103 === 0, to_timestamp(lit("2099-01-01")))
        .otherwise(col("o_orderdate")).as("o_orderdate"),
      when(col("o_orderkey") % 71 === 0, lit("9-BOGUS"))
        .otherwise(col("o_orderpriority")).as("o_orderpriority"))

  def catalogPart(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).select(
      col("p_partkey"),
      when(col("p_partkey") % 67 === 0, lit("")).otherwise(col("p_name")).as("p_name"),
      when(col("p_partkey") % 59 === 0, lit("brandX")).otherwise(col("p_brand")).as("p_brand"),
      when(col("p_partkey") % 53 === 0, lit(null)).otherwise(col("p_type")).as("p_type"),
      when(col("p_partkey") % 73 === 0, lit(999)).otherwise(col("p_size")).as("p_size"),
      when(col("p_partkey") % 61 === 0, lit(0.0)).otherwise(col("p_retailprice")).as("p_retailprice"))

  def catalogNation(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir).select(
      when(col("n_nationkey") % 7 === 0, lit(null)).otherwise(col("n_nationkey")).as("n_nationkey"),
      when(col("n_nationkey") % 5 === 0, lit(" "))
        .when(col("n_nationkey") % 11 === 0, lower(col("n_name")))
        .when(col("n_nationkey") % 13 === 0, rpad(col("n_name"), 30, "X"))
        .otherwise(col("n_name")).as("n_name"),
      when(col("n_nationkey") % 17 === 0, lit(99)).otherwise(col("n_regionkey")).as("n_regionkey"))

  def catalogInventory(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      when(col("l_orderkey") % 43 === 0, lit(null)).otherwise(col("l_partkey")).as("l_partkey"),
      when(col("l_orderkey") % 23 === 0, lit(999999L)).otherwise(col("l_suppkey")).as("l_suppkey"),
      when(col("l_orderkey") % 19 === 0, lit(999.0)).otherwise(col("l_quantity")).as("l_quantity"),
      when(col("l_orderkey") % 29 === 0, lit("X")).otherwise(col("l_returnflag")).as("l_returnflag"),
      when(col("l_orderkey") % 31 === 0, lit("Z")).otherwise(col("l_linestatus")).as("l_linestatus"),
      when(col("l_orderkey") % 37 === 0, lit(0.9)).otherwise(col("l_discount")).as("l_discount"),
      when(col("l_orderkey") % 41 === 0, -col("l_extendedprice"))
        .otherwise(col("l_extendedprice")).as("l_extendedprice"))

  def catalogSupplier(s: SparkSession, dir: String): DataFrame =
    Tables.supplier(s, dir).select(
      col("s_suppkey"),
      when(col("s_suppkey") % 29 === 0, lit(" ")).otherwise(col("s_name")).as("s_name"),
      when(col("s_suppkey") % 17 === 0, lit("abc"))
        .otherwise(concat(lit("84-"), lpad(col("s_suppkey").cast("string"), 7, "0")))
        .as("s_phone"),
      when(col("s_suppkey") % 19 === 0, col("s_acctbal") + 20000)
        .otherwise(col("s_acctbal")).as("s_acctbal"),
      when(col("s_suppkey") % 23 === 0, lit(99))
        .otherwise(col("s_nationkey")).as("s_nationkey"))

  def annotatedOrders(s: SparkSession, dir: String): DataFrame = {
    val (addRn, dupRule) = Quality.duplicateKeyRule("duplicate_key", col("o_orderkey"), Seq(col("src")))
    val (addFk, fkCustRule) = Quality.fkRule("fk_customer", col("o_custkey"),
      Tables.customer(s, dir), "c_custkey")
    val rules = Seq(
      Quality.Rule("null_custkey", col("o_custkey").isNull),
      fkCustRule,
      Quality.Rule("nonpositive_price", col("o_totalprice") <= 0),
      Quality.Rule("bad_status", !col("o_orderstatus").isin("O", "F", "P")),
      dupRule)
    Quality.annotate(addFk(addRn(dirtyOrders(s, dir))), rules)
      .drop("_rn_duplicate_key", "_fk_ok_fk_customer")
  }

  // Dual-format dispatch (data_transformer.py:117-140 transform_mon): detect
  // the CSV shape by its distinguishing column and map to canonical schema.
  def dispatchMon(df: DataFrame): DataFrame =
    if (df.columns.contains("ten_san_pham"))
      df.select(col("id"), trim(col("ten_san_pham")).as("ten_mon"),
        lit(null).cast("int").as("loai_id"), col("gia"), lit("csv").as("fmt"))
    else
      df.select(col("id"), trim(col("ten_mon")).as("ten_mon"),
        col("loai_id").cast("int").as("loai_id"), col("gia"), lit("sql").as("fmt"))

  // Dedup corpus: documents plus shifted duplicate copies, so exact-dedup has
  // non-trivial clusters (driver data is duplicate-free by construction).
  /** dedup_substr's minimum duplicated-run length in tokens — interpolated
    * into BOTH the Spark call and the DuckDB replay (the Bpe shared-
    * constant discipline). */
  val SubstrRun = 8

  /** The C1 control planted for mojibake_gate's c1_cnt — U+0091 (cp1252
    * left-quote read as Latin-1), deliberately NOT one of Java's line
    * terminators (U+0085 would make `.` semantics diverge between Java
    * regex and RE2). Interpolated into BOTH the Spark plant and the
    * DuckDB oracle so the bytes are identical. */
  val MojiC1 = "\u0091"

  /** mojibake_gate's planted artifact strings — shared constants so the
    * Spark plant and the DuckDB oracle interpolate IDENTICAL bytes
    * (explicit escapes; raw control chars in source are edit hazards). */
  val MojiPlant17 = " caf\u00c3\u00a9 d\u00c3\u00a9j\u00c3\u00a0 vu"
  val MojiPlant19 = " bad \ufffd\ufffd data"
  val MojiPlant23 = " quote \u00e2\u20ac\u2122 mark \u00c2 tail " + MojiC1 + "end"

  /** script_profile's planted script samples — Cyrillic / Han+digits /
    * Arabic / accented-Latin, all code points whose script assignment
    * predates Unicode 3.0 (stable across the engines' Unicode tables);
    * shared constants so both engines see identical bytes. */
  val ScriptPlant29 = " Привет мир"
  val ScriptPlant31 = " 中文数据 123"
  val ScriptPlant37 = " مرحبا بالعالم"
  val ScriptPlant41 = " café déjà vu naïve"

  /** χ²(0.95, df = 14) to 6dp — the ljung_box rejection bound, pinned as
    * the SAME literal in the Spark plan and the DuckDB oracle so neither
    * engine evaluates a chi-square quantile (the Benford convention). */
  val LjungBoxCrit14 = 23.684791

  def dedupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.unionByName(d.filter(col("doc_id") % 20 === 0)
      .withColumn("doc_id", col("doc_id") + 100000))
  }

  val CorpusCte =
    """WITH corpus AS (SELECT * FROM documents
      |  UNION ALL SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
      |  FROM documents WHERE doc_id % 20 = 0)""".stripMargin

  /** CDC rolling-chain replay, shared by the `dedup_cdc` and
    * `boilerplate_scrub` oracles: MD5 token hashes fold through the same
    * wrapping rolling chain as the winnow oracle (HUGEINT mod 2^64); the
    * low-bit boundary predicate (`g % maskMod`, maskMod = 2^maskBits)
    * reads only bits signed wrap preserves, so no re-signing is needed.
    * Emits CTEs (no leading WITH) ending in
    * `f(doc_id, n_total, pos, chunk)` — one row per content-defined
    * chunk of `src`, in document order. */
  def cdcChainCtes(src: String, maskMod: Int): String =
    s"""tw AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM $src),
       |th AS (SELECT doc_id, toks,
       |    [CAST(('0x' || substr(md5(t), 1, 16))::UBIGINT AS HUGEINT) for t in toks] AS h
       |  FROM tw WHERE len(toks) > 0),
       |kg AS (SELECT doc_id, toks,
       |    CASE WHEN len(h) >= 4 THEN
       |      [list_reduce(h[i:i+3], (a, b) -> (a * 1000003 + b) % 18446744073709551616)
       |       for i in range(1, len(h) - 2)]
       |    ELSE CAST([] AS HUGEINT[]) END AS g
       |  FROM th),
       |bnd AS (SELECT doc_id, toks,
       |    list_append(list_prepend(0,
       |      list_filter([CASE WHEN g[i] % $maskMod = 0 AND i + 3 < len(toks) THEN i + 3 END
       |                   for i in range(1, len(g) + 1)], x -> x IS NOT NULL)),
       |      len(toks)) AS b
       |  FROM kg),
       |chs AS (SELECT doc_id,
       |    [array_to_string(toks[b[j] + 1 : b[j + 1]], ' ') for j in range(1, len(b))] AS cs
       |  FROM bnd),
       |e AS (SELECT doc_id, len(cs) AS n_total,
       |    unnest([{'p': j - 1, 'c': cs[j]} for j in range(1, len(cs) + 1)]) AS u
       |  FROM chs),
       |f AS (SELECT doc_id, n_total, CAST(u.p AS INT) AS pos, u.c AS chunk FROM e)""".stripMargin

  // Embedding near-dup corpus: embeddings plus planted duplicates — exact
  // copies (cos = 1.0) and single-component perturbations (cos ≈ 0.999) —
  // so the near-dup gates verify real pairs instead of an empty result.
  // All math runs on array<double> in BOTH engines so values hash-match.
  // ONE source of truth for the plant recipe: `withLabel = true` carries
  // the label column through (the semantic_dedup cluster key; copies
  // inherit their source's label) — both the Scala and the SQL corpus are
  // built from the same construction, never re-implemented per query.
  def embCorpus(s: SparkSession, dir: String,
                        withLabel: Boolean = false): DataFrame = {
    val cols = Seq(col("vec_id"), col("embedding").cast("array<double>").as("embedding")) ++
      (if (withLabel) Seq(col("label")) else Nil)
    val e = Tables.embeddings(s, dir).select(cols: _*)
    val keep = e.columns.drop(1).toIndexedSeq.map(col)
    val copies = e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000).as("vec_id") +: keep: _*)
    val perturbed = e.filter(col("vec_id") % 10 === 5)
      .select(Seq((col("vec_id") + 200000).as("vec_id"),
        concat(array(element_at(col("embedding"), 1) * 1.5),
          slice(col("embedding"), 2, 63)).as("embedding")) ++
        (if (withLabel) Seq(col("label")) else Nil): _*)
    e.unionByName(copies).unionByName(perturbed)
  }

  def embCorpusCte(withLabel: Boolean): String = {
    val lbl = if (withLabel) ", label" else ""
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v$lbl FROM embeddings),
       |emb_corpus AS (SELECT vec_id, v$lbl FROM base
       |  UNION ALL SELECT vec_id + 100000 AS vec_id, v$lbl FROM base WHERE vec_id % 10 = 0
       |  UNION ALL SELECT vec_id + 200000 AS vec_id,
       |    list_concat([v[1] * 1.5], v[2:64]) AS v$lbl FROM base WHERE vec_id % 10 = 5)""".stripMargin
  }
  val EmbCorpusCte = embCorpusCte(withLabel = false)

  val Stop = TextAnalysis.EnStop.mkString("('", "','", "')")

  /** Shared by `source_overlap` and `source_overlap_hashed`: the hashed
    * variant's output is hash-independent (pair counts and Jaccard over the
    * same vocabulary sets), so one exact-string oracle gates both paths. */
  val SourceOverlapSql =
    """WITH toks AS (SELECT source, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |sh AS (SELECT DISTINCT source, g
      |  FROM toks, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS t(g)
      |  WHERE len(w) >= 2),
      |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source),
      |common AS (SELECT a.source AS source_a, b.source AS source_b,
      |    CAST(count(*) AS BIGINT) AS n_common
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT c.source_a, c.source_b, sa.n AS n_a, sb.n AS n_b, c.n_common,
      |  round(CAST(c.n_common AS DOUBLE) / (sa.n + sb.n - c.n_common), 6) AS jaccard
      |FROM common c
      |JOIN sizes sa ON sa.source = c.source_a
      |JOIN sizes sb ON sb.source = c.source_b""".stripMargin

  /** Shared by `setsim_join` and `setsim_join_hashed`: PPJoin promises the
    * EXACT threshold-join result, so the oracle is the all-pairs brute
    * force — completeness is the contract, and the hashed carrier's output
    * is key-representation-independent (verify scores true shingle arrays). */
  val ContainmentJoinSql =
    """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |sh AS (SELECT doc_id,
      |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
      |  FROM toks WHERE len(w) >= 3),
      |pairs AS (SELECT a.doc_id AS doc_sub, b.doc_id AS doc_sup,
      |    round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 6) AS containment
      |  FROM sh a JOIN sh b ON a.doc_id != b.doc_id)
      |SELECT doc_sub, doc_sup, containment FROM pairs WHERE containment >= 0.6""".stripMargin

  val SetSimJoinSql =
    """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |sh AS (SELECT doc_id,
      |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
      |  FROM toks WHERE len(w) >= 3),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.5""".stripMargin

  /** Shared by `embedding_cov` and `embedding_cov_hd`: the two Spark paths
    * (pair explode vs the fixed-buffer CovOuterSumAgg) are bit-identical by
    * construction, so one full-matrix oracle gates both. */
  val EmbeddingCovSql =
    """WITH u AS (SELECT vec_id, unnest(
      |    [{'i': i - 1, 'x': CAST(embedding[i] AS DOUBLE)}
      |     for i in range(1, len(embedding) + 1)]) AS e FROM embeddings),
      |m AS (SELECT vec_id, e.i AS i, e.x AS x FROM u),
      |p AS (SELECT a.i AS i, b.i AS j, a.x AS xi, b.x AS xj
      |  FROM m a JOIN m b ON a.vec_id = b.vec_id AND b.i >= a.i),
      |agg AS (SELECT i, j, count(*) AS n,
      |    SUM(CAST(xi * xj AS DECIMAL(28,12))) AS sxy,
      |    SUM(CAST(xi AS DECIMAL(28,12))) AS sx,
      |    SUM(CAST(xj AS DECIMAL(28,12))) AS sy
      |  FROM p GROUP BY i, j)
      |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
      |  CAST(n AS BIGINT) AS n_vecs,
      |  round(CAST(sxy AS DOUBLE) / n
      |    - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n), 6) + 0.0 AS cov
      |FROM agg""".stripMargin

  /** Bit-exact replay of Similarity.pcaPowerFixed (VERDICT r17 #1): the
    * k×rounds fixed-point power-iteration steps unroll as chained CTEs
    * over the integerized 6dp covariance (cov6 = round(cov·1e6) of the
    * SAME covariance EmbeddingCovSql already gates), every step exact
    * HUGEINT arithmetic with CASE-signed truncating division (DuckDB's
    * bare `//` floors, Spark-side BigInt truncates — the signs differ on
    * negative numerators, so every division decomposes through ABS; the
    * event_pagerank discipline one tier up in width). Renormalization is
    * max-|component| to exactly ±1e6 — no sqrt, no float after cov6. */
  val EmbeddingPcaSql: String = {
    val (k, rounds) = (4, 12)
    def sdiv(num: String, den: String): String =
      s"CASE WHEN ($den) = 0 THEN CAST(0 AS HUGEINT) " +
        s"WHEN ($num) >= 0 THEN ($num) // ($den) " +
        s"ELSE -((-($num)) // ($den)) END"
    val comps = (0 until k).map { c =>
      val steps = (1 to rounds).map { r =>
        s"""w_${c}_$r AS MATERIALIZED (SELECT m.i, SUM(m.c * v.v) AS w
           |  FROM m_$c m JOIN v_${c}_${r - 1} v ON m.j = v.i GROUP BY m.i),
           |v_${c}_$r AS MATERIALIZED (SELECT w.i,
           |    CASE WHEN mx.mx = 0 THEN CAST(0 AS HUGEINT)
           |      WHEN w.w >= 0 THEN (w.w * 1000000) // mx.mx
           |      ELSE -((-(w.w) * 1000000) // mx.mx) END AS v
           |  FROM w_${c}_$r w, (SELECT MAX(ABS(w)) AS mx FROM w_${c}_$r) mx)""".stripMargin
      }.mkString(",\n")
      val deflate =
        if (c == k - 1) ""
        else s""",
           |m_${c + 1} AS MATERIALIZED (SELECT m.i, m.j,
           |    m.c - ${sdiv("l.lam * vi.v * vj.v", "s.s")} AS c
           |  FROM m_$c m JOIN v_${c}_$rounds vi ON vi.i = m.i
           |    JOIN v_${c}_$rounds vj ON vj.i = m.j, lam_$c l, s_$c s)""".stripMargin
      s"""v_${c}_0 AS MATERIALIZED (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM dims),
         |$steps,
         |wf_$c AS MATERIALIZED (SELECT m.i, SUM(m.c * v.v) AS w
         |  FROM m_$c m JOIN v_${c}_$rounds v ON m.j = v.i GROUP BY m.i),
         |s_$c AS MATERIALIZED (SELECT SUM(v * v) AS s FROM v_${c}_$rounds),
         |n_$c AS MATERIALIZED (SELECT SUM(v.v * w.w) AS n
         |  FROM v_${c}_$rounds v JOIN wf_$c w ON v.i = w.i),
         |lam_$c AS MATERIALIZED (SELECT ${sdiv("n.n", "s.s")} AS lam FROM n_$c n, s_$c s)$deflate""".stripMargin
    }.mkString(",\n")
    val tail = (0 until k).map { c =>
      s"""SELECT CAST($c AS INT) AS component, CAST(v.i AS INT) AS dim_idx,
         |  CAST(v.v AS BIGINT) AS loading6, CAST(l.lam AS BIGINT) AS lambda6
         |FROM v_${c}_$rounds v, lam_$c l""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH cov AS MATERIALIZED (
       |$EmbeddingCovSql
       |),
       |c6 AS MATERIALIZED (SELECT i, j,
       |    CAST(CAST(round(cov * 1000000) AS BIGINT) AS HUGEINT) AS c FROM cov),
       |m_0 AS MATERIALIZED (SELECT i, j, c FROM c6
       |  UNION ALL SELECT j AS i, i AS j, c FROM c6 WHERE i <> j),
       |dims AS MATERIALIZED (SELECT DISTINCT i FROM m_0),
       |$comps
       |$tail""".stripMargin
  }

  /** IVF centroids trained once per testdata dir and shared across the
    * queries that search the embeddings corpus (`ann_ivf`, `ann_recall`) —
    * training is deterministic in (data, numCells), so caching by dir is
    * exact, and the recall gate no longer re-runs the training jobs
    * `ann_ivf` already paid for. */
  val ivfCentroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, Array[Double])]]()
  def ivfCentroids(s: SparkSession, dir: String): Array[(Int, Array[Double])] =
    ivfCentroidCache.computeIfAbsent(dir, _ =>
      Similarity.trainCentroids(
        Tables.embeddings(s, dir).filter(col("vec_id") >= 5), "vec_id", "embedding"))

  /** PQ codebooks trained once per testdata dir and shared by `ann_pq` and
    * the `ann_recall` gate — the ivfCentroids discipline: train once,
    * search many. */
  val pqBookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Double]]]]()
  def pqBooks(s: SparkSession, dir: String): Array[Array[Array[Double]]] =
    pqBookCache.computeIfAbsent(dir, _ =>
      Similarity.pqTrain(
        Tables.embeddings(s, dir).filter(col("vec_id") >= 5), "vec_id", "embedding",
        m = 8, ksub = 16))

  /** Residual PQ codebooks (trained on x − centroid(cell), sharing the IVF
    * centroids) — once per dir, shared by `ann_ivfpq_res` and `ann_recall`. */
  val pqResBookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Double]]]]()
  def pqResBooks(s: SparkSession, dir: String): Array[Array[Array[Double]]] =
    pqResBookCache.computeIfAbsent(dir, _ =>
      Similarity.pqTrainResidual(
        Tables.embeddings(s, dir).filter(col("vec_id") >= 5), "vec_id", "embedding",
        ivfCentroids(s, dir), m = 8, ksub = 16))

  /** Surrogate-keyed dimensions built once per testdata dir and SHARED
    * across the star queries — exactly the reference DWH's shape, where the
    * dimension tables are materialized once and both facts resolve against
    * them (create_dwh_tables.sql: dims precede facts). `localCheckpoint`
    * materializes the tiny ranked dim at first use so later facts skip the
    * distinct+rank subtree entirely. */
  val dimCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  def rankedDim(s: SparkSession, d: String, table: String,
                        naturalKey: String, keyName: String): DataFrame =
    dimCache.computeIfAbsent(s"${s.hashCode}:$d:$naturalKey", _ =>
      // PINNED (session-scoped, shared across the star queries): must NOT
      // register for per-query release — freeing a dim checkpoint mid-sweep
      // would fail every later consumer with "checkpoint block not found".
      graft.Ckpt.pinned(Star.withSurrogateKey(
        Tables.load(s, d, table).select(col(naturalKey)), naturalKey, keyName)))


  /** Zone root for the end-to-end pipeline queries: under the JVM temp dir
    * (the PipelineSpec temp-dir precedent), keyed by pipeline flavor AND sf
    * dir so scales never share zone state; a FIXED path (not
    * createTempDirectory) so reruns replace idempotently — combined with
    * the fixed runId, whose `_run_id` partition each run replaces, repeated
    * runs of the same (flavor, sf) are byte-stable, never accumulating. */
  def zoneRoot(flavor: String, sfDir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${flavor}_zones_" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** The exact end-to-end pipeline invocations behind `pipeline_report` /
    * `corpus_report` — factored out so Bench's stage-detail phase times the
    * IDENTICAL runs the correctness gate verifies. Both return the
    * (stage, rows, seconds) report. Parameter choices: corpus thresholds
    * match the standalone operators' oracled constants (gate 30/0.05/0.2,
    * near-dup 3-shingle 0.8, 20-token spans, 32 BPE merges, CCNet
    * terciles); capPerSource 120 binds at sf0.1 (~150 gated docs in the
    * largest sources) and is a verified no-op below. semantic_dedup is the
    * one optional stage left out: its derived-IVF-cell variant is
    * spec-gated (PipelineSpec), not SQL-replayable. */
  def runDwhPipeline(s: SparkSession, d: String): DataFrame =
    Pipeline.runAll(s, d, zoneRoot("dwh", d), "report_run")

  def runCorpusPipeline(s: SparkSession, d: String): DataFrame =
    CorpusPipeline.runAll(s, Tables.documents(s, d), zoneRoot("corpus", d),
      "report_run", capPerSource = 120, numShards = 4,
      spanScrub = Some(20), bpeMerges = Some(32), pplBuckets = Some(3))


  /** Pinned-centroid IVF search replay, parameterized by the corpus-scan
    * predicate — `ann_ivf_fixed` uses the plain split, `ann_filtered` adds
    * the metadata filter (pre-filtering: the index sees only qualifying
    * rows, the filtered-vector-search strategy that cannot starve top-k). */
  def ivfFixedSql(corpusPred: String): String = {
    val centRows = graft.operators.Similarity.seededCentroids(16, 64)
      .map { case (cid, v) => s"($cid, [${v.mkString(", ")}])" }
      .mkString(",\n        ")
    s"""WITH cents(cid, cv) AS (VALUES
      |        $centRows),
      |q0 AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |    FROM embeddings WHERE vec_id < 5),
      |c0 AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv2
      |    FROM embeddings WHERE $corpusPred),
      |casim AS (SELECT neighbor_id, cid,
      |    row_number() OVER (PARTITION BY neighbor_id
      |      ORDER BY list_cosine_similarity(cv2, cv) DESC, cid) AS rn
      |    FROM c0, cents),
      |cell_of AS (SELECT neighbor_id, cid AS cell FROM casim WHERE rn = 1),
      |probes AS (SELECT query_id, cid AS cell FROM (
      |    SELECT query_id, cid, row_number() OVER (PARTITION BY query_id
      |      ORDER BY list_cosine_similarity(qv, cv) DESC, cid) AS rn
      |    FROM q0, cents) WHERE rn <= 4),
      |cand AS (SELECT query_id, neighbor_id
      |    FROM probes JOIN cell_of USING (cell)),
      |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv2) AS sim
      |    FROM cand JOIN q0 USING (query_id) JOIN c0 USING (neighbor_id)),
      |r AS (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
      |    ORDER BY sim DESC, neighbor_id) AS rank FROM s WHERE NOT isnan(sim))
      |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM r
      |WHERE rank <= 10""".stripMargin
  }

  /** Shared DuckDB CTE chain for the pinned-merge BPE oracles
    * (`bpe_segment_fixed`, `bpe_fertility`): explicit whitespace class
    * (RE2's \s lacks U+000B), per-word-instance table `wd`, distinct-word
    * `w0`/`init`, and the recursive merge state machine `fin`. */
  def bpeFixedCtes: String = {
    val mergeRows = pinnedMerges.zipWithIndex
      .map { case ((l, r), i) => s"($i, '$l', '$r')" }.mkString(",\n        ")
    s"""m(rank, l, r) AS (VALUES
      |        $mergeRows),
      |d0 AS (SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS toks FROM documents),
      |wd AS (SELECT doc_id, u.wi AS wi, u.w AS w FROM (
      |    SELECT doc_id, unnest([{'wi': i, 'w': toks[i]}
      |        for i in range(1, len(toks) + 1)]) AS u FROM d0)
      |  WHERE u.w <> ''),
      |w0 AS (SELECT DISTINCT w FROM wd),
      |init AS (SELECT w, ch[1:len(ch)-1] || [ch[len(ch)] || '</w>'] AS syms
      |    FROM (SELECT w, string_split(w, '') AS ch FROM w0)),
      |fin AS (
      |  WITH RECURSIVE st(w, syms, al, ar, done) AS (
      |    SELECT w, syms, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), false FROM init
      |    UNION ALL
      |    SELECT w,
      |      CASE WHEN pos IS NOT NULL
      |           THEN syms[1:pos-1] || [al || ar] || syms[pos+2:] ELSE syms END,
      |      CASE WHEN pos IS NOT NULL THEN al
      |           ELSE (SELECT mm.l FROM m mm WHERE mm.rank = br) END,
      |      CASE WHEN pos IS NOT NULL THEN ar
      |           ELSE (SELECT mm.r FROM m mm WHERE mm.rank = br) END,
      |      (pos IS NULL AND br IS NULL)
      |    FROM (SELECT w, syms, al, ar,
      |        list_min([i for i in range(1, len(syms))
      |                  if syms[i] = al AND syms[i+1] = ar]) AS pos,
      |        (SELECT min(mm.rank) FROM m mm WHERE len(
      |            [i for i in range(1, len(syms))
      |             if syms[i] = mm.l AND syms[i+1] = mm.r]) > 0) AS br
      |      FROM st WHERE NOT done))
      |  SELECT w, syms FROM st WHERE done)""".stripMargin
  }

  /** Pinned literal merge list for `bpe_segment_fixed` — rank order is
    * merge priority. Chosen a priori (common English pairs, NOT trained on
    * the corpus — the seeded-centroid discipline: artifacts pinned, the
    * search/rewrite machinery real), with deliberate stress cases: chained
    * merges (t+h → th+e</w>, i+n → in+g</w>), end-of-word-suffix merges,
    * and the self-pair l+l that exercises the non-overlapping
    * left-to-right rule on letter runs. */
  private[graft] val pinnedMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e</w>"), ("i", "n"), ("a", "n"), ("r", "e"),
    ("o", "n"), ("e", "r"), ("an", "d</w>"), ("e", "n"), ("o", "r"),
    ("t", "i"), ("e", "s</w>"), ("s", "t"), ("a", "r"), ("t", "e"),
    ("o", "f</w>"), ("in", "g</w>"), ("t", "o</w>"), ("i", "s</w>"),
    ("e", "d</w>"), ("a", "l"), ("l", "l"), ("c", "o"), ("th", "e"))

  /** 64-bit modular multiply in DuckDB HUGEINT limb arithmetic:
    * (a*b) mod 2^64 with a < 2^64 split into 32-bit limbs so no
    * intermediate exceeds HUGEINT range — the building block of the
    * SQL xxhash64 replay below. */
  def mul64(a: String, b: String): String =
    s"((($a) % 4294967296) * $b + (((($a) // 4294967296) * $b) % 4294967296) * 4294967296) % 18446744073709551616"

  /** Spark `xxhash64(BIGINT)` (seed 42) replayed step-for-step in DuckDB —
    * the single-8-byte-block XXH64 path (mix with PRIME64_2/rotl31/PRIME64_1,
    * fold with rotl27*PRIME64_1+PRIME64_4, then the avalanche), each
    * multiply via [[mul64]], rotates as shift-sum, xors through UBIGINT.
    * Emits CTEs `$p0`..`hh` mapping (idCol rows of `src`) → signed BIGINT
    * `h` — bit-identical to Spark's value (verified against pyspark on
    * known vectors and by the ann_ivf oracle's hash-ordered sample).
    * This is what makes TRAINED-artifact oracles possible: the training
    * sample is selected BY this hash, so replaying it exactly lets DuckDB
    * re-run the whole k-means step rather than needing pinned literals. */
  def xxhash64Ctes(src: String, idCol: String): String =
    s"""hx0 AS (SELECT $idCol, CAST($idCol AS HUGEINT)
      |      + CASE WHEN $idCol < 0 THEN 18446744073709551616 ELSE 0 END AS l FROM $src),
      |hx1 AS (SELECT $idCol, ${mul64("l", "14029467366897019727")} AS k1 FROM hx0),
      |hx2 AS (SELECT $idCol, ((k1 * 2147483648) % 18446744073709551616 + k1 // 8589934592) AS k2 FROM hx1),
      |hx3 AS (SELECT $idCol, ${mul64("k2", "11400714785074694791")} AS k3 FROM hx2),
      |hx4 AS (SELECT $idCol, CAST(xor(2870177450012600311::UBIGINT, CAST(k3 AS UBIGINT)) AS HUGEINT) AS h1 FROM hx3),
      |hx5 AS (SELECT $idCol, ((h1 * 134217728) % 18446744073709551616 + h1 // 137438953472) AS h2 FROM hx4),
      |hx6 AS (SELECT $idCol, (${mul64("h2", "11400714785074694791")} + 9650029242287828579) % 18446744073709551616 AS h3 FROM hx5),
      |hx7 AS (SELECT $idCol, CAST(xor(CAST(h3 AS UBIGINT), CAST(h3 // 8589934592 AS UBIGINT)) AS HUGEINT) AS h4 FROM hx6),
      |hx8 AS (SELECT $idCol, ${mul64("h4", "14029467366897019727")} AS h5 FROM hx7),
      |hx9 AS (SELECT $idCol, CAST(xor(CAST(h5 AS UBIGINT), CAST(h5 // 536870912 AS UBIGINT)) AS HUGEINT) AS h6 FROM hx8),
      |hxa AS (SELECT $idCol, ${mul64("h6", "1609587929392839161")} AS h7 FROM hx9),
      |hxb AS (SELECT $idCol, CAST(xor(CAST(h7 AS UBIGINT), CAST(h7 // 4294967296 AS UBIGINT)) AS HUGEINT) AS h8 FROM hxa),
      |hh AS (SELECT $idCol, CAST(CASE WHEN h8 >= 9223372036854775808
      |      THEN h8 - 18446744073709551616 ELSE h8 END AS BIGINT) AS h FROM hxb)""".stripMargin

  /** Shared DuckDB replay of the pinned-codebook ADC search (`ann_pq_fixed`
    * / `ann_ivfpq_fixed`): the seeded 8×16×8 codebooks inline as literals
    * (the ann_lsh / ann_ivf_fixed pinned-artifact precedent, applied to
    * PQ). Every floating-point reduction is ORDER-PINNED with list_reduce
    * (ascending element index; ascending subspace j via list(... ORDER BY
    * j)) to mirror the Scala kernels' sequential loops — PqEncodeEval's
    * argmin-L2 (ties to lowest code = ORDER BY d2, c), PqLutExpr's dots,
    * AdcSumExpr's j-walk, reconNorm's per-code norm², l2Norm's fold — so
    * float parity holds by construction, not engine coincidence.
    * `candFrom` supplies the candidate (query_id, neighbor_id) pairs: the
    * full query×corpus product for flat PQ, the probed-cell join for
    * IVF-PQ; shortlist 80 = pqTopKWith's max(8k, 64) default at k=10. */
  def pqFixedOracle(extraCtes: String, candFrom: String): String = {
    val bookRows = graft.operators.Similarity.seededBooks(8, 16, 8)
      .zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (bv, c) => s"($j, $c, [${bv.mkString(", ")}])" }
      }.mkString(",\n        ")
    s"""WITH books(j, c, bv) AS (VALUES
      |        $bookRows),
      |q0 AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |    FROM embeddings WHERE vec_id < 5),
      |c0 AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      |    FROM embeddings WHERE vec_id >= 5),$extraCtes
      |${adcSearchCtes(candFrom)}""".stripMargin
  }

  /** Global-codebook ADC search chain (encode → reconstructed-norm cosine
    * → shortlist 80 → exact re-rank 10), consuming CTEs `books(j, c, bv)`,
    * `c0`, `q0` — shared verbatim by the pinned (`ann_pq_fixed` /
    * `ann_ivfpq_fixed`) and trained (`ann_pq` / `ann_ivfpq`) oracles;
    * only the books source differs. */
  def adcSearchCtes(candFrom: String): String =
    s"""enc AS (SELECT neighbor_id, j, c, row_number() OVER (PARTITION BY neighbor_id, j
      |      ORDER BY list_reduce(
      |        [(coalesce(cv[j*8+i], 0.0) - bv[i]) * (coalesce(cv[j*8+i], 0.0) - bv[i])
      |         for i in range(1, 9)], (a, b) -> a + b) ASC, c ASC) AS rn
      |    FROM c0, books),
      |codes AS (SELECT neighbor_id, j, c AS code FROM enc WHERE rn = 1),
      |vn AS (SELECT neighbor_id,
      |      sqrt(list_reduce(list(n2 ORDER BY j), (a, b) -> a + b)) AS vnormr
      |    FROM (SELECT neighbor_id, codes.j AS j,
      |        list_reduce([bv[i] * bv[i] for i in range(1, 9)], (a, b) -> a + b) AS n2
      |      FROM codes JOIN books ON books.j = codes.j AND books.c = codes.code)
      |    GROUP BY neighbor_id),
      |qn AS (SELECT query_id,
      |      sqrt(list_reduce([x * x for x in qv], (a, b) -> a + b)) AS qnorm
      |    FROM q0),
      |pj AS (SELECT cand.query_id, cand.neighbor_id, codes.j AS j,
      |      list_reduce([coalesce(qv[codes.j*8+i], 0.0) * bv[i] for i in range(1, 9)],
      |        (a, b) -> a + b) AS lj
      |    FROM $candFrom
      |      JOIN codes ON codes.neighbor_id = cand.neighbor_id
      |      JOIN books ON books.j = codes.j AND books.c = codes.code
      |      JOIN q0 ON q0.query_id = cand.query_id),
      |adc AS (SELECT query_id, neighbor_id,
      |      list_reduce(list(lj ORDER BY j), (a, b) -> a + b) AS adcsum
      |    FROM pj GROUP BY query_id, neighbor_id),
      |sc AS (SELECT query_id, neighbor_id, adcsum / (qnorm * vnormr) AS asim
      |    FROM adc JOIN qn USING (query_id) JOIN vn USING (neighbor_id)),
      |short AS (SELECT query_id, neighbor_id FROM (
      |      SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
      |        ORDER BY asim DESC, neighbor_id) AS srn
      |      FROM sc WHERE NOT isnan(asim)) WHERE srn <= 80),
      |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS sim
      |    FROM short JOIN q0 USING (query_id) JOIN c0 USING (neighbor_id)),
      |r AS (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
      |    ORDER BY sim DESC, neighbor_id) AS rank FROM s WHERE NOT isnan(sim))
      |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM r
      |WHERE rank <= 10""".stripMargin

  /** `Similarity.trainCentroids` + IVF routing replayed in SQL, consuming
    * `c0`/`q0`/`hh`: the hash-ordered bounded sample, seed selection, ONE
    * k-means step with fold-order-pinned per-dim means, adaptiveCells /
    * adaptiveProbes sizing re-derived from the corpus count, then cell
    * assignment + per-query probe sets. Emits `cents(cid, cv0)`, `np`,
    * `cell_of`, `probes` — shared by the ann_ivf / ann_ivfpq /
    * ann_ivfpq_res oracles. BOTH training regimes replay: past
    * centroidLiteralBudget (4096) cells — corpus ≳ 16.8M rows —
    * `trainCentroids` (Similarity.scala:333) skips the k-means step and
    * the numCells smallest-hash vectors ARE the centroids (hash-order
    * cid), so `cents` branches on the derived numcells exactly as the
    * Scala does; a large-SF corpus therefore stays oracle-valid instead
    * of silently drifting into a regime the replay doesn't cover. */
  val ivfTrainCtes: String =
    """nc AS (SELECT least(65536, greatest(16, CAST(ceil(sqrt(count(*))) AS INT))) AS numcells FROM c0),
      |samp AS (SELECT neighbor_id, cv, row_number() OVER (ORDER BY h) AS sp
      |    FROM c0 JOIN hh USING (neighbor_id), nc
      |    QUALIFY sp <= numcells * 32),
      |seeds AS (SELECT sp - 1 AS cid, cv AS sv,
      |      sqrt(list_reduce([x * x for x in cv], (a, b) -> a + b)) AS snorm
      |    FROM samp, nc WHERE sp <= numcells),
      |asg AS (SELECT sp, cid FROM (
      |    SELECT samp.sp AS sp, seeds.cid AS cid, row_number() OVER (PARTITION BY samp.sp
      |        ORDER BY list_reduce([samp.cv[i] * seeds.sv[i]
      |            for i in range(1, least(len(samp.cv), len(seeds.sv)) + 1)], (a, b) -> a + b)
      |          / (sqrt(list_reduce([x * x for x in samp.cv], (a, b) -> a + b)) * seeds.snorm) DESC,
      |          seeds.cid) AS arn
      |    FROM samp, seeds) WHERE arn = 1),
      |cdim AS (SELECT cid, u.di AS di, u.v AS v, sp FROM (
      |    SELECT asg.cid AS cid, samp.sp AS sp,
      |      unnest([{'di': i, 'v': samp.cv[i]} for i in range(1, len(samp.cv) + 1)]) AS u
      |    FROM asg JOIN samp USING (sp))),
      |km AS (SELECT cid, list(m ORDER BY di) AS cv0 FROM (
      |    SELECT cid, di, list_reduce(list(v ORDER BY sp), (a, b) -> a + b) / count(*) AS m
      |    FROM cdim GROUP BY cid, di) GROUP BY cid),
      |cents AS (
      |  SELECT cid, cv0 FROM km, nc WHERE numcells <= 4096
      |  UNION ALL
      |  SELECT cid, sv AS cv0 FROM seeds, nc WHERE numcells > 4096),
      |np AS (SELECT greatest(4, CAST(ceil(count(*) / 8.0) AS INT)) AS nprobe FROM cents),
      |casim AS (SELECT neighbor_id, cid,
      |    row_number() OVER (PARTITION BY neighbor_id
      |      ORDER BY list_cosine_similarity(cv, cv0) DESC, cid) AS crn
      |    FROM c0, cents),
      |cell_of AS (SELECT neighbor_id, cid AS cell FROM casim WHERE crn = 1),
      |probes AS (SELECT query_id, cid AS cell FROM (
      |    SELECT query_id, cid, row_number() OVER (PARTITION BY query_id
      |      ORDER BY list_cosine_similarity(qv, cv0) DESC, cid) AS qrn
      |    FROM q0, cents), np WHERE qrn <= nprobe)""".stripMargin

  /** `Similarity.pqTrain` replayed in SQL over a (neighbor_id, tv) CTE
    * `tsrc` (m=8, ksub=16, sub=8 — the query surface's pinned shape):
    * 512-row hash sample (shares the `hh` chain — pqTrain hashes the SAME
    * id column), per-subspace zero-padded slices, seeds = smallest-hash
    * 16, argmin-L2 one-step k-means with sample-order-pinned means, empty
    * codes keeping their seeds. Emits `books(j, c, bv)` — the trained
    * twin of the seeded literal table, feeding the same
    * [[adcSearchCtes]]. */
  def pqTrainCtes(tsrc: String): String =
    s"""psamp AS (SELECT t.neighbor_id AS neighbor_id, t.tv AS tv, row_number() OVER (ORDER BY h) AS psp
      |    FROM $tsrc t JOIN hh ON hh.neighbor_id = t.neighbor_id
      |    QUALIFY psp <= 512),
      |jj AS (SELECT unnest(range(0, 8)) AS j),
      |slc AS (SELECT psp, j, [coalesce(tv[j*8+i], 0.0) for i in range(1, 9)] AS sl FROM psamp, jj),
      |pseeds AS (SELECT j, psp - 1 AS c, sl AS sv FROM slc WHERE psp <= 16),
      |pasg AS (SELECT psp, j, c FROM (
      |    SELECT slc.psp AS psp, slc.j AS j, pseeds.c AS c, row_number() OVER (PARTITION BY slc.psp, slc.j
      |        ORDER BY list_reduce([(slc.sl[i] - pseeds.sv[i]) * (slc.sl[i] - pseeds.sv[i])
      |            for i in range(1, 9)], (a, b) -> a + b) ASC, pseeds.c ASC) AS prn
      |    FROM slc JOIN pseeds ON pseeds.j = slc.j) WHERE prn = 1),
      |pexp AS (SELECT psp, j, u.di AS di, u.v AS v FROM (
      |    SELECT psp, j, unnest([{'di': i, 'v': sl[i]} for i in range(1, 9)]) AS u FROM slc)),
      |pm0 AS (SELECT pasg.j AS j, pasg.c AS c, pexp.di AS di,
      |      list_reduce(list(pexp.v ORDER BY pexp.psp), (a, b) -> a + b) / count(*) AS mv
      |    FROM pasg JOIN pexp ON pexp.psp = pasg.psp AND pexp.j = pasg.j
      |    GROUP BY 1, 2, 3),
      |pmean AS (SELECT j, c, list(mv ORDER BY di) AS mv FROM pm0 GROUP BY j, c),
      |books AS (SELECT pseeds.j AS j, pseeds.c AS c, coalesce(pmean.mv, pseeds.sv) AS bv
      |    FROM pseeds LEFT JOIN pmean ON pmean.j = pseeds.j AND pmean.c = pseeds.c)""".stripMargin

  /** Brute-force all-pairs levenshtein — the completeness oracle BOTH
    * edit_join (q=2) and edit_join_wide (q=3) answer to: Ed-Join's q-gram
    * prefix filter prunes candidates, never matches, so one oracle gates
    * every q (the round-18 scale-curve adjudication — q is the scale
    * knob on digit-heavy key domains, with byte-identical results). */
  val EditJoinSql: String =
    """WITH s AS (SELECT s_suppkey AS id, s_name AS name FROM supplier)
      |SELECT a.id AS id_a, b.id AS id_b,
      |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
      |FROM s a JOIN s b ON a.id < b.id
      |  AND abs(length(a.name) - length(b.name)) <= 1
      |WHERE levenshtein(a.name, b.name) <= 1""".stripMargin

  val annQcCtes: String =
    """q0 AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |    FROM embeddings WHERE vec_id < 5),
      |c0 AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      |    FROM embeddings WHERE vec_id >= 5)""".stripMargin

}
