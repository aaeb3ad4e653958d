"""Seeded input generator for the graft benchmark.

Every table is a pure function of (seed, tier): each random choice is a
DuckDB `hash()` of the seed, a table tag, the row number and a column tag,
so the same seed yields byte-identical parquet files and a different seed
different ones.  The layout and schema follow graft's TPC-H-ish testdata
(`<dir>/<table>.parquet`), so `graft.Tables` reads the output unchanged.

Tiers (sizes are in "sf" units: 1.0 = 150k customers, 1.5M orders):

* ``query`` - the x1 tier `query_mix` reads: all ten tables, clean. Its
  documents carry ~1% exact and ~3% one-token near-duplicates.
* ``etl``   - for `ingest_etl`: a x4 relational tier with rule violations
  planted at fixed rates, staged as ``snap_1 .. snap_S`` directories whose
  customer tables differ by ~2% attribute churn per snapshot; and event
  batches (``batches/batch=<i>``), each carrying ~3% broker replays of the
  previous batch and ~2% rule-violating events.

Outputs are cached under a directory keyed by (tier, seed, sizes, this
file's text); MANIFEST.json records a sha256 per file and the whole set.
"""

import hashlib
import json
import os
import shutil

import duckdb

# Tier sizes, in sf units of the testdata layout.
SIZES = {
    "query": {"sf": 0.004},
    "etl": {"sf": 0.002, "shards": 4, "snapshots": 2,
            "batches": 40, "events": 2000, "users": 300},
}

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]

# Planted rule violations in the dwh tier (fraction of orders each).
VIOLATION_RATE = {"null_custkey": 0.005, "fk_customer": 0.005,
                  "nonpositive_price": 0.005, "duplicate_key": 0.005}
CHURN = 0.02          # customer attribute churn per snapshot
REPLAY = 0.03         # broker replays per event batch
BAD_EVENT = 0.02      # planted negative-value events per batch
STREAM_START = "2024-01-01 00:00:00"


def _u(con_seed, *tags):
    """SQL for a uniform [0,1) draw keyed by the seed and the given tags."""
    args = ", ".join([str(con_seed)] + [str(t) for t in tags])
    return f"(hash({args}) % 1000000007) / 1000000007.0"


def _h(con_seed, *tags):
    """SQL for a non-negative BIGINT hash keyed by the seed and the tags."""
    args = ", ".join([str(con_seed)] + [str(t) for t in tags])
    return f"CAST(hash({args}) >> 1 AS BIGINT)"


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE 4096)")


def _relational(con, seed, sf, out, tag):
    """region..lineitem at scale sf into `out`; returns the row counts."""
    n_cust = max(50, int(150000 * sf))
    n_part = max(50, int(200000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_ord = max(500, int(1500000 * sf))
    u = lambda *t: _u(seed, f"'{tag}'", *t)
    h = lambda *t: _h(seed, f"'{tag}'", *t)
    _copy(con, "SELECT CAST(i AS INTEGER) AS r_regionkey, "
               "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name "
               "FROM range(5) t(i)", f"{out}/region.parquet")
    _copy(con, "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
               "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)",
          f"{out}/nation.parquet")
    _copy(con, f"""SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
        CAST({h("'cn'", "i")} % 25 AS INTEGER) AS c_nationkey,
        round(-999.99 + {u("'cb'", "i")} * 10999.98, 2) AS c_acctbal,
        ['MACHINERY','AUTOMOBILE','HOUSEHOLD','BUILDING','FURNITURE'][{h("'cs'", "i")} % 5 + 1] AS c_mktsegment
        FROM range({n_cust}) t(i) ORDER BY i""", f"{out}/customer.parquet")
    _copy(con, f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
        CAST({h("'sn'", "i")} % 25 AS INTEGER) AS s_nationkey,
        round(-999.99 + {u("'sb'", "i")} * 10999.98, 2) AS s_acctbal
        FROM range({n_supp}) t(i) ORDER BY i""", f"{out}/supplier.parquet")
    _copy(con, f"""SELECT i AS p_partkey,
        ['small','red','blue','hot','old','new','big','green'][{h("'pa'", "i")} % 8 + 1] || ' ' ||
        ['ring','widget','bolt','gear','anvil','rod','pin','nut'][{h("'pb'", "i")} % 8 + 1] AS p_name,
        'Brand#' || ({h("'pr'", "i")} % 25 + 1) AS p_brand,
        ['ECONOMY','STANDARD','LARGE','SMALL','MEDIUM','PROMO'][{h("'pt'", "i")} % 6 + 1] AS p_type,
        CAST({h("'ps'", "i")} % 50 + 1 AS INTEGER) AS p_size,
        round(900 + (i % 1000) * 0.1, 1) AS p_retailprice
        FROM range({n_part}) t(i) ORDER BY i""", f"{out}/part.parquet")
    con.execute(f"""CREATE OR REPLACE TEMP TABLE o AS SELECT i AS o_orderkey,
        CAST({h("'oc'", "i")} % {n_cust} AS BIGINT) AS o_custkey,
        ['P','O','F'][{h("'os'", "i")} % 3 + 1] AS o_orderstatus,
        round(1000 + {u("'op'", "i")} * 499000, 2) AS o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(CAST({h("'od'", "i")} % 2405 AS INTEGER)) AS o_orderdate,
        ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][{h("'oq'", "i")} % 5 + 1] AS o_orderpriority,
        CAST({h("'ol'", "i")} % 7 + 1 AS INTEGER) AS n_lines
        FROM range({n_ord}) t(i)""")
    _copy(con, f"""SELECT o_orderkey AS l_orderkey,
        CAST({h("'lp'", "o_orderkey", "j")} % {n_part} AS BIGINT) AS l_partkey,
        CAST({h("'ls'", "o_orderkey", "j")} % {n_supp} AS BIGINT) AS l_suppkey,
        CAST(j AS INTEGER) AS l_linenumber,
        CAST({h("'lq'", "o_orderkey", "j")} % 50 + 1 AS DOUBLE) AS l_quantity,
        round(({h("'lq'", "o_orderkey", "j")} % 50 + 1) * (900 + {u("'le'", "o_orderkey", "j")} * 1200), 2) AS l_extendedprice,
        CAST({h("'ld'", "o_orderkey", "j")} % 11 AS DOUBLE) / 100 AS l_discount,
        CAST({h("'lt'", "o_orderkey", "j")} % 9 AS DOUBLE) / 100 AS l_tax,
        ['A','N','R'][{h("'lr'", "o_orderkey", "j")} % 3 + 1] AS l_returnflag,
        ['O','F'][{h("'lo'", "o_orderkey", "j")} % 2 + 1] AS l_linestatus,
        o_orderdate + to_days(CAST({h("'lh'", "o_orderkey", "j")} % 121 + 1 AS INTEGER)) AS l_shipdate
        FROM o, range(1, 8) r(j) WHERE j <= n_lines ORDER BY l_orderkey, l_linenumber""",
          f"{out}/lineitem.parquet")
    return {"customer": n_cust, "orders": n_ord}


def _orders(con, seed, out, n_cust, violations):
    """Write orders from temp table `o`, optionally with planted violations."""
    cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
    if not violations:
        _copy(con, f"SELECT {cols} FROM o ORDER BY o_orderkey", f"{out}/orders.parquet")
        return
    u = lambda *t: _u(seed, "'viol'", *t)
    r = VIOLATION_RATE
    c1 = r["null_custkey"]
    c2 = c1 + r["fk_customer"]
    c3 = c2 + r["nonpositive_price"]
    c4 = c3 + r["duplicate_key"]
    # One violation class per order; a duplicate is an exact copy, so
    # which copy survives the duplicate-key rule does not change counts.
    _copy(con, f"""WITH v AS (SELECT *, {u("o_orderkey")} AS x FROM o),
        w AS (SELECT o_orderkey,
          CASE WHEN x < {c1} THEN NULL
               WHEN x < {c2} THEN o_custkey + {n_cust} ELSE o_custkey END AS o_custkey,
          o_orderstatus,
          CASE WHEN x >= {c2} AND x < {c3} THEN -o_totalprice ELSE o_totalprice END AS o_totalprice,
          o_orderdate, o_orderpriority, x FROM v)
        SELECT {cols} FROM (SELECT * FROM w UNION ALL
          SELECT * FROM w WHERE x >= {c3} AND x < {c4})
        ORDER BY o_orderkey""", f"{out}/orders.parquet")


def _documents(con, seed, sf, tag):
    """Temp table `docs(doc_id, toks, source, lang)` - the base corpus."""
    n = max(100, int(50000 * sf))
    u = lambda *t: _u(seed, f"'{tag}'", *t)
    h = lambda *t: _h(seed, f"'{tag}'", *t)
    v = len(VOCAB)
    con.execute(f"""CREATE OR REPLACE TEMP TABLE d0 AS SELECT i AS doc_id,
        list_transform(range(CAST({h("'dn'", "i")} % 93 + 8 AS BIGINT)),
                       p -> CAST({h("'dt'", "i", "p")} % {v} AS INTEGER)) AS toks,
        'src' || ({h("'ds'", "i")} % 20) AS source,
        ['en','en','en','de','fr','es','zh'][{h("'dl'", "i")} % 7 + 1] AS lang,
        {u("'dk'", "i")} AS kind_x, CAST({h("'dsrc'", "i")} % greatest(i, 1) AS BIGINT) AS src_id
        FROM range({n}) t(i)""")
    # ~1% exact duplicates and ~3% one-token near-duplicates of an earlier
    # document (near-dups only from documents long enough that the 3-shingle
    # Jaccard stays well above the 0.8 near-dup threshold)
    con.execute(f"""CREATE OR REPLACE TEMP TABLE docs AS SELECT a.doc_id,
        CASE WHEN a.doc_id > 0 AND a.kind_x < 0.01 THEN b.toks
             WHEN a.doc_id > 0 AND a.kind_x < 0.04 AND len(b.toks) >= 40 THEN
               list_transform(range(len(b.toks)), p -> CASE
                 WHEN p = {h("'dm'", "a.doc_id")} % len(b.toks)
                 THEN CAST((b.toks[p + 1] + 1 + {h("'dr'", "a.doc_id")} % {v - 1}) % {v} AS INTEGER)
                 ELSE b.toks[p + 1] END)
             ELSE a.toks END AS toks,
        a.source, a.lang
        FROM d0 a JOIN d0 b ON b.doc_id = a.src_id""")
    return n


def _vocab_sql():
    return "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"


def _text(toks):
    return f"array_to_string(list_transform({toks}, t -> {_vocab_sql()}[t + 1]), ' ')"


def _write_docs(con, out):
    _copy(con, f"""SELECT doc_id, {_text('toks')} AS text, lang, source,
        CAST(length({_text('toks')}) AS BIGINT) AS n_chars FROM docs ORDER BY doc_id""",
          f"{out}/documents.parquet")


def _embeddings(con, seed, n, out, tag):
    u = lambda *t: _u(seed, f"'{tag}'", *t)
    h = lambda *t: _h(seed, f"'{tag}'", *t)
    # ten labelled clusters: centroid + noise, L2-normalised
    _copy(con, f"""WITH lab AS (SELECT i, CAST({h("'el'", "i")} % 10 AS INTEGER) AS label
          FROM range({n}) t(i)),
        raw AS (SELECT i AS vec_id, label,
          list_transform(range(64), j -> ({_u(seed, "'cent'", "label", "j")} - 0.5)
                                        + 0.6 * ({u("'en'", "i", "j")} - 0.5)) AS v FROM lab)
        SELECT vec_id, CAST(list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
                            AS FLOAT[]) AS embedding, label
        FROM raw ORDER BY vec_id""", f"{out}/embeddings.parquet")


def _events(con, seed, n, users, out, tag):
    h = lambda *t: _h(seed, f"'{tag}'", *t)
    u = lambda *t: _u(seed, f"'{tag}'", *t)
    _copy(con, f"""SELECT i AS event_id,
        TIMESTAMP '{STREAM_START}' + to_microseconds(CAST(i * 2592000000000 // {n}
            + {h("'et'", "i")} % (2592000000000 // {n}) AS BIGINT)) AS ts,
        CAST({h("'eu'", "i")} % {users} AS BIGINT) AS user_id,
        ['click','signup','error','view','purchase'][{h("'ey'", "i")} % 5 + 1] AS event_type,
        round(0.01 + {u("'ev'", "i")} * 490, 2) AS value,
        '{{"k": ' || ({h("'ep'", "i")} % 100) || '}}' AS props
        FROM range({n}) t(i) ORDER BY i""", f"{out}/events.parquet")


def build_query(con, seed, out):
    sf = SIZES["query"]["sf"]
    counts = _relational(con, seed, sf, out, "q")
    _orders(con, seed, out, counts["customer"], violations=False)
    _events(con, seed, max(1000, int(1000000 * sf)), max(20, int(15000 * sf)), out, "q")
    n_docs = _documents(con, seed, sf, "q")
    _write_docs(con, out)
    _embeddings(con, seed, n_docs, out, "q")
    return {}


def build_etl(con, seed, out):
    cfg = SIZES["etl"]
    base = f"{out}/base"
    os.makedirs(base)
    counts = _relational(con, seed, cfg["sf"] * cfg["shards"], base, "d")
    _orders(con, seed, base, counts["customer"], violations=True)
    os.remove(f"{base}/customer.parquet")
    # snapshot k: ~CHURN of the customers change one attribute per step
    n_cust = counts["customer"]
    u = lambda *t: _u(seed, "'churn'", *t)
    snaps = []
    for k in range(1, cfg["snapshots"] + 1):
        d = f"{out}/snap_{k}"
        os.makedirs(d)
        for f in os.listdir(base):
            shutil.copyfile(f"{base}/{f}", f"{d}/{f}")
        bumps = " + ".join(f"CASE WHEN {u(j, 'i')} < {CHURN} THEN 1 ELSE 0 END"
                           for j in range(2, k + 1)) or "0"
        _copy(con, f"""SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
            CAST(({_h(seed, "'d'", "'cn'", "i")} % 25 + ({bumps})) % 25 AS INTEGER) AS c_nationkey,
            round(-999.99 + {_u(seed, "'d'", "'cb'", "i")} * 10999.98 + ({bumps}) * 7, 2) AS c_acctbal,
            ['MACHINERY','AUTOMOBILE','HOUSEHOLD','BUILDING','FURNITURE'][{_h(seed, "'d'", "'cs'", "i")} % 5 + 1]
              AS c_mktsegment
            FROM range({n_cust}) t(i) ORDER BY i""", f"{d}/customer.parquet")
        snaps.append(d)
    shutil.rmtree(base)
    return {"snapshots": len(snaps), "expected": _stream(con, seed, out, cfg)}


def _stream(con, seed, out, cfg):
    nb, ne, users = cfg["batches"], cfg["events"], cfg["users"]
    h = lambda *t: _h(seed, "'s'", *t)
    u = lambda *t: _u(seed, "'s'", *t)
    step = 3600 * 1000000 // ne  # one hour of event time per batch
    # fresh events: ids batch*ne + i, strictly increasing event time
    con.execute(f"""CREATE OR REPLACE TEMP TABLE ev AS SELECT b AS batch, b * {ne} + i AS event_id,
        TIMESTAMP '{STREAM_START}' + to_microseconds(CAST((b * {ne} + i) * {step}
            + {h("'et'", "b", "i")} % {step} AS BIGINT)) AS ts,
        CAST({h("'eu'", "b", "i")} % {users} AS BIGINT) AS user_id,
        ['click','signup','error','view','purchase'][{h("'ey'", "b", "i")} % 5 + 1] AS event_type,
        CASE WHEN {u("'bad'", "b", "i")} < {BAD_EVENT} THEN -1.0
             ELSE round(0.01 + {u("'ev'", "b", "i")} * 490, 2) END AS value
        FROM range({nb}) s(b), range({ne}) t(i)""")
    # replays: byte-identical copies of events from the previous batch
    n_rep = int(ne * REPLAY)
    con.execute(f"""CREATE OR REPLACE TEMP TABLE rep AS SELECT r.b AS batch, e.event_id, e.ts,
        e.user_id, e.event_type, e.value
        FROM range(1, {nb}) r(b), range({n_rep}) k(j)
        JOIN ev e ON e.batch = r.b - 1 AND e.event_id = (r.b - 1) * {ne} + {h("'rp'", "r.b", "k.j")} % {ne}""")
    os.makedirs(f"{out}/batches")
    con.execute(f"""COPY (SELECT * FROM (SELECT * FROM ev UNION ALL SELECT * FROM rep)
        ORDER BY batch, event_id, ts) TO '{out}/batches' (FORMAT PARQUET, PARTITION_BY (batch))""")
    # cumulative sink expectations after each batch
    rows = con.execute(f"""WITH per AS (SELECT batch, count(*) AS published FROM
          (SELECT batch FROM ev UNION ALL SELECT batch FROM rep) GROUP BY batch),
        fresh AS (SELECT batch, count(*) FILTER (WHERE value >= 0) AS clean,
          count(*) FILTER (WHERE value < 0) AS error FROM ev GROUP BY batch),
        first_user AS (SELECT user_id, min(batch) AS b FROM ev WHERE value >= 0 GROUP BY user_id),
        users AS (SELECT b AS batch, count(*) AS new_users FROM first_user GROUP BY b)
        SELECT p.batch, p.published, f.clean, f.error, coalesce(u.new_users, 0)
        FROM per p JOIN fresh f USING (batch) LEFT JOIN users u USING (batch)
        ORDER BY p.batch""").fetchall()
    cum, acc = [], [0, 0, 0, 0]
    for _, pub, cl, er, nu in rows:
        acc = [acc[0] + pub, acc[1] + cl, acc[2] + er, acc[3] + nu]
        cum.append({"raw": acc[0], "clean": acc[1], "error": acc[2], "state": acc[3]})
    return cum


BUILDERS = {"query": build_query, "etl": build_etl}


def _digest(root):
    files = {}
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            rel = os.path.relpath(p, root)
            if rel == "MANIFEST.json":
                continue
            with open(p, "rb") as fh:
                files[rel] = hashlib.sha256(fh.read()).hexdigest()
    total = hashlib.sha256(json.dumps(files, sort_keys=True).encode()).hexdigest()
    return files, total


def cache_key(tier, seed):
    with open(os.path.abspath(__file__), "rb") as fh:
        src = fh.read()
    blob = json.dumps([tier, seed, SIZES[tier]]).encode() + src
    return hashlib.sha256(blob).hexdigest()[:16]


def generate(tier, seed, cache_root):
    """Return (directory, manifest) for (tier, seed), generating on a miss.

    A cached directory is reused only if its files still hash to the
    manifest's content hash; anything else is rebuilt from scratch."""
    out = os.path.join(cache_root, f"{tier}-{seed}-{cache_key(tier, seed)}")
    man_path = os.path.join(out, "MANIFEST.json")
    if os.path.exists(man_path):
        with open(man_path) as fh:
            man = json.load(fh)
        if _digest(out)[1] == man.get("content_sha256"):
            return out, man
    if os.path.exists(out):
        shutil.rmtree(out)
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    con = duckdb.connect()
    # one thread: parquet row-group order (and so the bytes) stay fixed
    con.execute("SET threads = 1")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{cache_root}/duckdb-tmp'")
    try:
        info = BUILDERS[tier](con, seed, tmp)
    finally:
        con.close()
    files, total = _digest(tmp)
    man = {"tier": tier, "seed": seed, "sizes": SIZES[tier], "info": info,
           "files": files, "content_sha256": total}
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as fh:
        json.dump(man, fh, indent=1, sort_keys=True)
    os.rename(tmp, out)
    return out, man
