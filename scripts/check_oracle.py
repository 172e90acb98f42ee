#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>
       python3 scripts/check_oracle.py --same-sql <baseOutDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify) and
compares against the DuckDB result of oracle_sql.json[name] executed over
views named after the tables in <sfDir>. Comparison: sort columns by
name, sort rows, exact value equality (doubles compared bit-exact after
the queries' own rounding). Dev tooling only — not part of the library.

--same-sql compares the oracle_sql.json of two Verify dumps instead: it
prints each name whose oracle SQL differs or exists on one side only,
and exits non-zero if there is one (a change that only moves oracle
text around must leave every rendered string byte-identical).
"""
import sys, json, glob, os
import duckdb

# (query, column) pairs where a pandas-dtype divergence is sanctioned
# because the driver's typed hash is known to accept it. Keep empty
# unless proven against a green CORRECTNESS row.
DTYPE_ALLOWLIST = set()

def load_oracles(out_dir):
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        return json.load(f)

def same_sql(base_dir, out_dir):
    base, new = load_oracles(base_dir), load_oracles(out_dir)
    diff = 0
    for name in sorted(base.keys() | new.keys()):
        if name not in new:
            print(f"MISSING {name}: only in {base_dir}"); diff += 1
        elif name not in base:
            print(f"MISSING {name}: only in {out_dir}"); diff += 1
        elif base[name] != new[name]:
            print(f"DIFFERS {name}"); diff += 1
    print(f"\n{len(base.keys() | new.keys())} names, {diff} differ")
    return 1 if diff else 0

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = load_oracles(out_dir)
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    n_pass = n_fail = n_noracle = 0
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no parquet output"); n_fail += 1; continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        if name not in oracles:
            print(f"SKIP {name}: no oracle ({len(got)} rows)"); n_noracle += 1
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}"); n_fail += 1; continue
        g = got.reindex(sorted(got.columns), axis=1)
        e_ = exp.reindex(sorted(exp.columns), axis=1)
        if list(g.columns) != list(e_.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(e_.columns)}")
            n_fail += 1; continue
        if len(g) != len(e_):
            print(f"FAIL {name}: rows {len(g)} != {len(e_)}"); n_fail += 1; continue
        dt_mismatch = [(c, str(g[c].dtype), str(e_[c].dtype))
                       for c in g.columns if str(g[c].dtype) != str(e_[c].dtype)]
        # The driver's correctness gate hashes TYPED values, so a dtype
        # divergence fails it even when the values compare equal (q247,
        # round 11: DuckDB windowed sum(BIGINT) -> HUGEINT -> float64 vs
        # Spark int64). Treat it as a hard FAIL here too; allowlist any
        # case the driver is known to accept (none currently).
        dt_mismatch = [m for m in dt_mismatch
                       if (name, m[0]) not in DTYPE_ALLOWLIST]
        if dt_mismatch:
            print(f"FAIL {name}: dtype mismatch {dt_mismatch}")
            n_fail += 1; continue
        g = g.sort_values(by=list(g.columns)).reset_index(drop=True)
        e_ = e_.sort_values(by=list(e_.columns)).reset_index(drop=True)
        try:
            import pandas as pd
            pd.testing.assert_frame_equal(g, e_, check_dtype=False,
                                          check_exact=True)
            print(f"PASS {name} ({len(g)} rows)"); n_pass += 1
        except AssertionError as ex:
            msg = str(ex).split("\n")
            print(f"FAIL {name}: " + " | ".join(msg[:6])); n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} no-oracle")
    return 1 if n_fail else 0

if __name__ == "__main__":
    if sys.argv[1] == "--same-sql":
        sys.exit(same_sql(sys.argv[2], sys.argv[3]))
    sys.exit(main(sys.argv[1], sys.argv[2]))
