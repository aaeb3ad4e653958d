"""Expected outputs for the benchmark's ops, and the per-op check.

* ingest_etl: the DWH pipeline's per-stage row counts, from the
  `pipeline_report` oracle SQL run in DuckDB over the same generated
  snapshot, plus the generator's known cumulative stream-sink counts
  (raw keeps replays, clean + error = distinct events, state = one row
  per clean user).
* query_mix: each query's rows and an order-insensitive hash, from its
  oracle SQL in DuckDB. Pass 1 of a run writes every Spark result as
  parquet, which is hashed the same way; timed ops carry the JVM's own
  fingerprint, which must equal pass 1's. The corpus pipeline op is
  checked on its per-stage row counts (`corpus_report`'s oracle).

Oracle results are computed once per (seed, tier) and cached beside the
generated data.
"""

import datetime
import decimal
import hashlib
import json
import math
import os

import duckdb

CORPUS = "corpus_report"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def connect():
    """A DuckDB session that spills, if at all, inside the benchmark's
    scratch directory."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 4")
    con.execute("SET enable_progress_bar = false")
    tmp = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work", "duckdb")
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def _connect(data_dir):
    con = connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _canon(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f) or math.isinf(f):
            return str(f)
        r = round(f, 6)
        return int(r) if r == int(r) and abs(r) < 2 ** 53 else r
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(sorted((_canon(x) for x in v), key=repr))
    if isinstance(v, dict):
        return tuple(sorted(((k, _canon(x)) for k, x in v.items()), key=repr))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return repr(v)


def fingerprint(con, sql):
    """(column names, row count, order-insensitive hash) of a result."""
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rel.fetchall())
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return sorted(cols), len(rows), h


def _stage_counts(con, sql):
    return {stage: int(n) for stage, n in con.sql(sql).fetchall()}


def expected(workload, data, manifest, oracle_sql):
    """Expected outputs for a workload's inputs, cached beside them."""
    names = sorted(oracle_sql) if workload == "query_mix" else ["pipeline_report"]
    names = [n for n in names if n != "pipeline_report"] if workload == "query_mix" else names
    with open(os.path.abspath(__file__), "rb") as fh:
        key = hashlib.sha256(fh.read() + json.dumps(
            [manifest["content_sha256"], [oracle_sql[n] for n in names]]).encode()).hexdigest()
    path = data + ".expected.json"
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
        if cached.get("key") == key:
            return cached["expected"]
    if workload == "ingest_etl":
        exp = {f"batch_{i}": c for i, c in enumerate(manifest["info"]["expected"])}
        for d in sorted(x for x in os.listdir(data) if x.startswith("snap_")):
            con = _connect(os.path.join(data, d))
            exp[d] = _stage_counts(con, oracle_sql["pipeline_report"])
            con.close()
    else:
        con = _connect(data)
        exp = {n: _stage_counts(con, oracle_sql[n]) if n == CORPUS else fingerprint(con, oracle_sql[n])
               for n in names}
        con.close()
    with open(path + ".tmp", "w") as fh:
        json.dump({"key": key, "expected": exp}, fh)
    os.replace(path + ".tmp", path)
    return exp


def _parse(check):
    return {k: int(v) for k, v in (kv.split("=", 1) for kv in check.split(";"))}


def _want(workload, name, expected):
    if workload == "ingest_etl":
        snap, batch = name.split("+")
        if snap not in expected or batch not in expected:
            return None
        return {**expected[snap], **expected[batch]}
    return expected.get(name)


def check(workload, res, expected, work):
    """One (op name, ok, reason) per op the run attempted."""
    out = []
    first = {}
    con = connect()
    for o in [res["cold"]] + res["warmup"] + res["ops"]:
        n = o["name"]
        if o["check"].startswith("error"):
            out.append((n, False, o["check"]))
        elif workload == "ingest_etl" or n == CORPUS:
            want, got = _want(workload, n, expected), _parse(o["check"])
            out.append((n, got == want, f"got {got} want {want}"))
        elif n not in first:
            # pass 1: the written result against the DuckDB oracle
            got = fingerprint(con, f"SELECT * FROM read_parquet('{work}/verify/{n}/*.parquet')")
            ok = list(got) == list(expected[n])
            first[n] = o["check"] if ok else None
            out.append((n, ok, f"spark {got[:2]} vs duckdb {expected[n][:2]}"))
        else:
            ok = first[n] is not None and o["check"] == first[n]
            out.append((n, ok, f"fingerprint {o['check']} vs pass 1 {first[n]}"))
    con.close()
    return out


def rows_fn(workload, expected):
    """Input rows one op consumed: staged orders plus published events for
    ingest_etl; result rows (documents for the corpus run) for query_mix."""
    if workload == "query_mix":
        return lambda o: o["rows"] if o["name"] == CORPUS else int(o["check"].split(":")[0])

    def consumed(o):
        b = int(o["name"].split("+batch_")[1])
        prev = expected.get(f"batch_{b - 1}", {"raw": 0})["raw"]
        return o["rows"] + expected[f"batch_{b}"]["raw"] - prev
    return consumed
