"""Seeded input generation for the benchmark workloads.

Every table is a pure function of (seed, size): the same pair always
writes byte-identical parquet, so a cached input directory is reused
only when its key matches.  The generator also records what it planted
(distinct texts, copies that straddle the held-out split) in
``manifest.json``; the output checks compare the engine's answers
against those facts.

Physical types match the repository's reference tables (pyarrow-written
parquet, ``timestamp[us]`` without a zone).
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 5000
DOC_TOKENS = 40
LANGS = np.array(["en", "de", "fr", "es", "zh"])


def _ts(days):
    """Days after 1995-01-01 as timestamp[us] (no zone)."""
    base = np.datetime64("1995-01-01T00:00:00", "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def tpch(out, seed, sf):
    """TPC-H-shaped star schema: ``sf`` scales customer/part/orders/
    lineitem like the reference tables (sf 0.01 -> 60k lineitems)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)

    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    nk = np.arange(25, dtype=np.int32)
    _write(pa.table({
        "n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk.tolist()],
        "n_regionkey": (nk % 5).astype(np.int32)}), f"{out}/nation.parquet")

    ck = np.arange(n_cust, dtype=np.int64)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": ck, "c_name": _names("Customer", ck),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": rng.integers(-99_999, 1_000_000, n_cust) / 100.0,
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}), f"{out}/customer.parquet")

    sk = np.arange(n_supp, dtype=np.int64)
    _write(pa.table({
        "s_suppkey": sk, "s_name": _names("Supplier", sk),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": rng.integers(-99_999, 1_000_000, n_supp) / 100.0}),
        f"{out}/supplier.parquet")

    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(["red", "blue", "green", "small", "large", "black", "white", "shiny"])
    noun = np.array(["ring", "widget", "anvil", "bolt", "gear", "lamp", "pipe", "valve"])
    _write(pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
            rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0}), f"{out}/part.parquet")

    ok = np.arange(n_ord, dtype=np.int64)
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(pa.table({
        "o_orderkey": ok, "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": rng.integers(100_000, 50_000_000, n_ord) / 100.0,
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")

    lines = rng.integers(1, 8, n_ord)  # 1..7 lines per order, ~4 on average
    lo = np.repeat(ok, lines)
    n_li = lo.size
    ln = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": lo, "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li), "l_linenumber": ln,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.integers(90_000, 210_000, n_li) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odays, lines) + rng.integers(1, 122, n_li))}),
        f"{out}/lineitem.parquet")

    n_ev = int(1_000_000 * sf)
    secs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + secs.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, n_ev * 15 // 1000), n_ev),
        "event_type": np.array(["click", "error", "purchase", "search", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": rng.integers(0, 10_000, n_ev) / 100.0,
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")}),
        f"{out}/events.parquet")
    return {"lineitem_rows": int(n_li), "orders_rows": n_ord, "customer_rows": n_cust,
            "events_rows": n_ev}


def corpus(out, seed, docs, parts):
    """Documents in the BigBenchLlm shape (40 tokens over a 5k-word
    vocabulary, plus ``ts``) with planted exact and near duplicates,
    written as ``parts`` part files in a shuffled order so duplicates
    cross file (and so micro-batch) boundaries."""
    rng = np.random.default_rng([seed, 2])
    n_exact, n_near = docs // 100, docs // 200
    n_base = docs - n_exact - n_near
    toks = rng.integers(0, VOCAB, (n_base, DOC_TOKENS))
    # a leading serial token keeps every base text distinct, so the
    # planted counts are exact rather than probable
    words = np.char.add("w", toks.astype(str))
    words[:, 0] = np.char.add("u", np.arange(n_base).astype(str))
    # doc_id order is a seeded permutation, so the duplicates' ids are
    # scattered through the corpus
    ids = rng.permutation(docs).astype(np.int64)
    # half the copies are of held-out documents (doc_id % 100 == 0, the
    # split doc_decontaminate checks against), so decontamination has
    # planted hits
    held = np.flatnonzero(ids[:n_base] % 100 == 0)
    rest = np.flatnonzero(ids[:n_base] % 100 != 0)

    def sources(n):
        k = min(n // 2, held.size)
        return np.concatenate([rng.choice(held, k, replace=False),
                               rng.choice(rest, n - k, replace=False)])

    src_exact, src_near = sources(n_exact), sources(n_near)
    near = words[src_near].copy()
    near[:, 1] = "wx"  # two of 40 tokens replaced: 3-gram Jaccard 35/41
    near[:, 2] = "wy"
    texts = np.array([" ".join(r) for r in np.concatenate([words, words[src_exact], near])],
                     dtype=object)
    origin = np.concatenate([np.arange(n_base), src_exact, src_near])
    # (source id, copy id) of every planted copy; where a pair straddles
    # the split, its member outside the held-out set shares all (exact)
    # or most (near) of its 3-grams with a held-out document
    pairs = [(int(ids[o]), int(c)) for o, c in zip(origin[n_base:], ids[n_base:])]
    contaminated = sorted({a if b % 100 == 0 else b for a, b in pairs
                           if (a % 100 == 0) != (b % 100 == 0)})
    order = np.argsort(ids)
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=docs)
    table = pa.table({
        "doc_id": ids[order], "text": pa.array(texts[order], type=pa.string()),
        "lang": LANGS[origin[order] % 5],
        "source": np.char.add("src", (origin[order] % 20).astype(str)),
        "n_chars": lens[order], "ts": _ts(rng.integers(0, 30, docs)[order])})
    d = f"{out}/documents.parquet"
    os.makedirs(d)
    shuffled = table.take(pa.array(rng.permutation(docs)))
    step = -(-docs // parts)
    for p in range(parts):
        _write(shuffled.slice(p * step, step), f"{d}/part-{p:05d}.parquet")
    return {"docs": docs, "distinct_texts": n_base + n_near, "exact_dups": n_exact,
            "near_dups": n_near, "contaminated": contaminated, "part_files": parts}


def ensure(root, kind, seed, size, parts=None):
    """Generate (or reuse) the inputs for (kind, seed, size), in
    ``parts`` part files for a corpus; returns (directory, manifest)."""
    key = f"{kind}-s{seed}-n{size}" + (f"-p{parts}" if parts else "")
    out = os.path.join(root, key)
    man = os.path.join(out, "manifest.json")
    if os.path.exists(man):
        with open(man) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    facts = tpch(tmp, seed, size / 1000.0) if kind == "tpch" else corpus(tmp, seed, size, parts)
    facts.update({"kind": kind, "seed": seed, "size": size})
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(facts, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, facts
