#!/usr/bin/env python3
"""Oracle-verify the bitext-mining queries on a PLANTED-BITEXT corpus
(GenData vecsMode="bitext" — an embeddings-only directory, so the full
scaleverify harness can't run there: its oracle children register views for
every table).

Usage: python3 tools/bitextverify.py <bitextDir> <verifyOutDir>

Runs the q143 (exact) oracle SQL from <verifyOutDir>/oracle_sql.json live in
DuckDB over the planted corpus and compares BOTH dumped queries against it:

- q143_bitext_mine must hash-match exactly (it is the exact algorithm);
- q143b_bitext_mine_lsh at its registered default (B=6, L=32) must emit the
  IDENTICAL (x_id, y_id, cosine) set on this geometry: translation cosine
  ~0.975 gives collision p ~ 0.93, so per-pair miss (1-p^6)^32 ~ 1e-14, and
  an emitted pair's cosine is the same exact round-4 fold. Only the MARGIN
  column is excluded: it is shortlist-local BY CONTRACT (the runner-up is
  taken within the retrieved candidates, exactly how production mining
  margins over its FAISS shortlist — see bitextMineLsh's scaladoc), so it
  legitimately differs from the full-block runner-up. (The recall/speed
  frontier over B/L is recorded in BASELINE.md.)
"""
import sys, os, glob, json

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import localverify  # noqa: E402


def main():
    bdir, outdir = sys.argv[1], sys.argv[2]
    import duckdb
    con = duckdb.connect()
    p = f"{bdir}/embeddings.parquet"
    if os.path.isdir(p):
        p = f"{p}/*.parquet"
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    odf = con.sql(oracle["q143_bitext_mine"]).df()
    fails = 0
    for name in ("q143_bitext_mine", "q143b_bitext_mine_lsh"):
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"{name:28s} FAIL no spark output", flush=True)
            fails += 1
            continue
        sdf = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        if name == "q143b_bitext_mine_lsh":
            # margin is shortlist-local by contract — compare the exact part
            sdf = sdf[["x_id", "y_id", "cosine"]]
            ocut = odf[["x_id", "y_id", "cosine"]]
            v = localverify.compare(name, sdf, ocut)
            v += " (x_id, y_id, cosine; margin shortlist-local by contract)" \
                if v == "OK" else ""
        else:
            v = localverify.compare(name, sdf, odf)
        print(f"{name:28s} {v}", flush=True)
        if not v.startswith("OK"):
            fails += 1
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
