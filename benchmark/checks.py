"""Correctness checks run after the timed phase.

gql_read: every served request's reply against its DuckDB twin.
registry_sweep: every collected result that has an oracle against
SparkEntry.oracleSql run in DuckDB over the same tables, compared the way
tools/check_oracle.py compares them (columns sorted by name, floats rounded
to 6 places, a row-order-only difference accepted).
"""
import datetime
import hashlib
import json
import math
import os
import pickle
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def log(msg):
    print(f"[check] {msg}", file=sys.stderr, flush=True)


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    return con


def same(a, b):
    """Structural equality with float tolerance; JSON text is compared as
    the value it encodes."""
    if isinstance(a, str) and isinstance(b, str) and a != b \
            and a[:1] in "[{" and b[:1] in "[{":
        try:
            return same(json.loads(a), json.loads(b))
        except ValueError:
            return False
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(b, datetime.datetime) and isinstance(a, str):
        return datetime.datetime.fromisoformat(a) == b
    return a == b


def check_gql(deck, responses_path, data, corrupt=False):
    """Ids of served requests whose reply differs from the twin."""
    by_id = {r["id"]: r for r in deck}
    con = connect(data)
    bad = set()
    with open(responses_path) as fh:
        replies = [json.loads(l) for l in fh if l.strip()]
    for n, rep in enumerate(replies):
        req = by_id[rep["id"]]
        (key, got), = rep["roots"].items()
        rel = con.execute(req["sql"])
        cols = [d[0] for d in rel.description]
        want = [list(r) for r in rel.fetchall()]
        if corrupt and n == 0:
            want = want[1:] if want else [[None] * len(cols)]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        gorder = sorted(range(len(got["columns"])),
                        key=lambda i: got["columns"][i])
        ok = sorted(cols) == sorted(got["columns"]) and \
            len(want) == len(got["rows"]) and all(
                same([g[i] for i in gorder], [w[i] for i in order])
                for g, w in zip(got["rows"], want))
        if not ok:
            bad.add(rep["id"])
            if len(bad) <= 3:
                log(f"gql request {rep['id']} ({req['template']}, "
                    f"{req['role']}) differs from its twin: "
                    f"got {got['columns']} {got['rows'][:2]} "
                    f"want {cols} {want[:2]}")
    return bad


def _canon(rows, idx):
    out = []
    for r in rows:
        rr = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6) if not math.isnan(v) else "nan"
            rr.append(v)
        out.append(tuple(rr))
    return out


def check_registry(out, data, cache_dir, corrupt=False):
    """Names of registry keys whose result differs from the oracle.
    Expected results are cached under cache_dir per (data dir, SQL)."""
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = connect(data)
    os.makedirs(cache_dir, exist_ok=True)
    bad = set()
    done = sorted(os.listdir(os.path.join(out, "registry"))) \
        if os.path.isdir(os.path.join(out, "registry")) else []
    checked = [k for k in done if k in oracle]
    for n, name in enumerate(checked):
        sql = oracle[name]
        key = hashlib.sha256((os.path.basename(data) + "\0" + sql)
                             .encode()).hexdigest()[:24]
        path = os.path.join(cache_dir, key + ".pkl")
        try:
            if os.path.exists(path):
                with open(path, "rb") as fh:
                    ocols, orows = pickle.load(fh)
            else:
                rel = con.execute(sql)
                ocols = [d[0] for d in rel.description]
                orows = rel.fetchall()
                with open(path + ".tmp", "wb") as fh:
                    pickle.dump((ocols, orows), fh)
                os.replace(path + ".tmp", path)
            rel = con.execute("SELECT * FROM read_parquet('"
                              + os.path.join(out, "registry", name)
                              + "/*.parquet')")
            scols = [d[0] for d in rel.description]
            srows = rel.fetchall()
        except Exception as e:  # an engine error or unreadable output
            bad.add(name)
            log(f"registry {name}: exception {e}")
            continue
        if corrupt and n == 0:
            orows = orows[1:] if orows else [tuple([None] * len(ocols))]
        if sorted(scols) != sorted(ocols):
            bad.add(name)
            log(f"registry {name}: columns {scols} != oracle {ocols}")
            continue
        sr = _canon(srows, [scols.index(c) for c in sorted(scols)])
        orr = _canon(orows, [ocols.index(c) for c in sorted(ocols)])
        if sr != orr and sorted(map(repr, sr)) != sorted(map(repr, orr)):
            bad.add(name)
            log(f"registry {name}: {len(sr)} rows differ from the oracle's "
                f"{len(orr)}")
    return bad
