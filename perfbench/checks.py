"""Output checks, run after the timed passes.

* Every query's output equals its ``SparkEntry.oracleSql`` text run in
  DuckDB over the same parquet files.
* ``corpus_ingest`` also agrees with what the generator planted:
  ``doc_decontaminate`` flags every planted exact or near copy that
  straddles the held-out split, and every ingest pass read every
  document and admitted exactly the distinct texts (md5 exact dedup)
  into both the ledger and the corpus.

``run`` returns a list of problems; empty means correct.
"""
import glob
import math
import os

import duckdb

def _connect():
    con = duckdb.connect()
    # never reach for extensions over the network; parquet is built in
    con.execute("SET autoinstall_known_extensions=false")
    con.execute("SET autoload_known_extensions=false")
    return con


def _views(con, data):
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in cur.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=lambda r: [(v is None, str(v)) for v in r])


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _oracle(rec, data):
    con = _connect()
    _views(con, data)
    problems = []
    for q, sql in sorted(rec["oracle"].items()):
        got_dir = os.path.join(rec["check_dir"], q)
        try:
            gcols, got = _rows(con, f"SELECT * FROM read_parquet('{got_dir}/*.parquet')")
            ocols, want = _rows(con, sql)
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            problems.append(f"{q}: {e}")
            continue
        if gcols != ocols:
            problems.append(f"{q}: columns {gcols} != oracle {ocols}")
        elif len(got) != len(want):
            problems.append(f"{q}: {len(got)} rows != oracle {len(want)}")
        elif not all(_same(x, y) for r, s in zip(got, want) for x, y in zip(r, s)):
            problems.append(f"{q}: values differ from the oracle")
    return problems


def _corpus(rec, facts):
    con = _connect()
    out = os.path.join(rec["check_dir"], "doc_decontaminate")
    flagged = {r[0] for r in con.execute(
        f"SELECT doc_id FROM read_parquet('{out}/*.parquet')").fetchall()}
    missed = sorted(set(facts["contaminated"]) - flagged)
    problems = [f"doc_decontaminate: missed planted copies {missed[:5]}"] if missed else []
    want = {"input_rows": facts["docs"], "ledger_rows": facts["distinct_texts"],
            "corpus_rows": facts["distinct_texts"]}
    for i, p in enumerate(rec["passes"]):
        for k, v in want.items():
            if p["counts"].get(k) != v:
                problems.append(f"ingest pass {i}: {k} {p['counts'].get(k)} != {v}")
    return problems


def run(rec, data, facts):
    failed = [f"{op}: {why}" for op, why in rec["outputs"].items() if why != "ok"]
    if failed:
        return failed
    return _oracle(rec, data) + (_corpus(rec, facts) if facts["kind"] == "corpus" else [])
