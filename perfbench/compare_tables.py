#!/usr/bin/env python3
"""Compares the generated query-suite tables with a directory of the
repository's test tables at the same scale factor: row counts, schemas,
per-column statistics, the documents' duplicate structure, the
embeddings' cluster structure and, given the oracle SQL a kept run wrote
(`run.py --keep`, file `results/oracle_sql.json`), each query's oracle
result size on both datasets.

    python3 perfbench/compare_tables.py REF_DIR --sf 0.01 [--sql FILE]
"""

import argparse
import json
import os
import sys
import tempfile

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tables  # noqa: E402
from oracle import TABLES  # noqa: E402


def docs_profile(con, d):
    texts = [r[0] for r in con.execute(
        f"SELECT text FROM '{d}/documents.parquet' ORDER BY doc_id").fetchall()]
    words = [len(t.split()) for t in texts]
    near = sum(t.endswith(" dup") for t in texts)
    exact = len(texts) - len(set(texts))
    return (f"words/doc {min(words)}..{max(words)} (median {np.median(words):g}), "
            f"vocabulary {len({w for t in texts for w in t.split()})}, "
            f"near duplicates {near / len(texts):.2%}, exact copies {exact / len(texts):.2%}")


def embeddings_profile(con, d):
    rows = con.execute(f"SELECT embedding, label FROM '{d}/embeddings.parquet'").fetchall()
    v = np.array([r[0] for r in rows], dtype=np.float64)
    lab = np.array([r[1] for r in rows])
    sim = v @ v.T
    np.fill_diagonal(sim, -2.0)
    same = lab[:, None] == lab[None, :]
    np.fill_diagonal(same, False)
    return (f"dim {v.shape[1]}, labels {len(set(lab))}, mean cosine same label "
            f"{sim[same].mean():.3f} / other label {sim[~same & (sim > -2)].mean():.3f}, "
            f"median nearest-neighbour cosine {np.median(sim.max(1)):.3f}, "
            f"nearest neighbour shares the label {np.mean(lab[sim.argmax(1)] == lab):.1%}")


def column_stats(con, d, t):
    out = {}
    for name, kind, *_ in con.execute(f"DESCRIBE SELECT * FROM '{d}/{t}.parquet'").fetchall():
        if kind.endswith("[]") or name == "text":
            continue
        num = kind in ("BIGINT", "INTEGER", "DOUBLE", "FLOAT")
        out[name] = con.execute(
            f"SELECT min({name}), max({name}), count(DISTINCT {name})"
            + (f", round(avg({name}), 3)" if num else "")
            + f" FROM '{d}/{t}.parquet'").fetchone()
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("ref")
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--sql", help="oracle_sql.json of a kept run")
    args = ap.parse_args()
    con = duckdb.connect()
    with tempfile.TemporaryDirectory() as ours:
        tables.generate(ours, args.seed, args.sf)
        dirs = {"ref": args.ref, "gen": ours}
        for t in TABLES:
            n = {k: con.execute(f"SELECT count(*) FROM '{d}/{t}.parquet'").fetchone()[0]
                 for k, d in dirs.items()}
            schema = {k: con.execute(f"DESCRIBE SELECT * FROM '{d}/{t}.parquet'").fetchall()
                      for k, d in dirs.items()}
            print(f"{t}: rows ref {n['ref']} gen {n['gen']}, "
                  f"schema {'same' if schema['ref'] == schema['gen'] else 'DIFFERS'}")
            ref, gen = (column_stats(con, d, t) for d in dirs.values())
            for c in ref:
                if ref[c] != gen.get(c):
                    print(f"  {c}: ref {ref[c]}\n  {' ' * len(c)}  gen {gen.get(c)}")
        for k, d in dirs.items():
            print(f"documents {k}: {docs_profile(con, d)}")
        for k, d in dirs.items():
            print(f"embeddings {k}: {embeddings_profile(con, d)}")
        if args.sql:
            with open(args.sql) as fh:
                sql = json.load(fh)
            for k, d in dirs.items():
                for t in TABLES:
                    con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
                sizes = {q: con.execute(f"SELECT count(*) FROM ({s})").fetchone()[0]
                         for q, s in sorted(sql.items())}
                print(f"oracle result rows {k}: {json.dumps(sizes)}")
    con.close()


if __name__ == "__main__":
    main()
