#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check_correctness.py <verify_out_dir> <sf_dir>

For each <name>/ parquet dir produced by graft.Verify, runs the matching
oracle SQL from oracle_sql.json in DuckDB over the same parquet tables,
sorts columns by name, and compares row count, schema (column names) and
values. Prints one line per query plus a summary. Every registered query
carries an oracle, so a dump without one is a FAIL, not a skip.

Verify writes no dump for a query whose build failed; it names the query
and its error in errors.json instead. Each errors.json entry is a FAIL,
and a missing errors.json fails the run (Verify always writes it, empty
on an all-green run), so a broken query cannot vanish from the summary.
"""
import sys, json, glob, os
import duckdb

def main(out_dir, sf_dir):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = 0
    errors = {}
    err_path = os.path.join(out_dir, "errors.json")
    if not os.path.exists(err_path):
        print(f"FAIL run: {err_path} is missing; Verify always writes it, "
              "so query failures cannot be ruled out")
        n_fail += 1
    else:
        errors = json.load(open(err_path))
        for name, msg in sorted(errors.items()):
            print(f"FAIL {name}: Verify error: {msg}")
            n_fail += 1
    for name in sorted(os.listdir(out_dir)):
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir) or name in errors:
            continue
        try:
            spark_df = con.execute(
                f"SELECT * FROM read_parquet('{qdir}/*.parquet')").fetchdf()
        except Exception as e:
            print(f"FAIL {name}: cannot read spark dump: {e}")
            n_fail += 1
            continue
        if name not in oracle:
            print(f"FAIL {name}: no oracle (rows={len(spark_df)})")
            n_fail += 1
            continue
        try:
            # Type gate BEFORE values: the driver hashes serialized
            # values, so a DuckDB HUGEINT (promoted integer sum) or
            # DECIMAL column hash-mismatches Spark's BIGINT/DOUBLE even
            # when every value is identical — and pandas coercion below
            # would hide it locally (the round-8 corpus_token_budget
            # bug passed this checker and failed the driver). Cast in
            # the oracle SQL (::BIGINT / ::DOUBLE).
            otypes = con.execute(f"DESCRIBE {oracle[name]}").fetchall()
            promoted = [(c[0], c[1]) for c in otypes
                        if c[1] in ("HUGEINT", "UHUGEINT")
                        or c[1].startswith("DECIMAL")]
            if promoted:
                print(f"FAIL {name}: oracle emits driver-hash-unsafe types {promoted}")
                n_fail += 1
                continue
            ora_df = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        s = spark_df[sorted(spark_df.columns)]
        o = ora_df[sorted(ora_df.columns)]
        if list(s.columns) != list(o.columns):
            print(f"FAIL {name}: schema {list(s.columns)} vs {list(o.columns)}")
            n_fail += 1
            continue
        if len(s) != len(o):
            print(f"FAIL {name}: rows {len(s)} vs {len(o)}")
            n_fail += 1
            continue
        s = s.reset_index(drop=True)
        o = o.reset_index(drop=True).astype(s.dtypes.to_dict(), errors="ignore")
        neq = []
        for c in s.columns:
            a, b = s[c], o[c]
            try:
                same = (a.isna() & b.isna()) | (a == b)
            except Exception:
                same = a.astype(str) == b.astype(str)
            if not bool(same.all()):
                neq.append(c)
        if neq:
            print(f"FAIL {name}: value mismatch in {neq}")
            for c in neq[:2]:
                diff = s[c][~((s[c].isna() & o[c].isna()) | (s[c] == o[c]))]
                i = diff.index[0]
                print(f"  first diff row {i}: spark={s[c][i]!r} oracle={o[c][i]!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
