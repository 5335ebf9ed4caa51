#!/usr/bin/env python3
"""Record the catalog_flight fingerprints, once their outputs match the
DuckDB oracle.

Runs the catalog rows in dump mode (each row's output written as parquet,
with its oracle SQL and its fingerprint), checks every output against the
oracle with the normalization of tools/compare.py, and only if every row
passes writes flightbench/fingerprints/catalog_flight-<sf>.json. Rerun it
when the data or a row's output contract changes.

Usage (from the repository root): python3 flightbench/verify_oracle.py
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(ROOT / "tools"))
from compare import normalize  # noqa: E402


def same(g, e):
    """compare.py's rule: same columns and rows, exact values."""
    g, e = normalize(g), normalize(e)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    for c in g.columns:
        gv, ev = g[c], e[c]
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            gv2, ev2 = gv.astype(float), ev.astype(float)
            if (~((gv2 == ev2) | (gv2.isna() & ev2.isna()))).any():
                return f"{c} differs"
        elif not gv.equals(ev) and (gv.astype(str) != ev.astype(str)).any():
            return f"{c} differs"
    return None


def verify(scale, sf):
    dump = BENCH / "work" / f"oracle-{sf}"
    shutil.rmtree(dump, ignore_errors=True)
    subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", "catalog_flight",
                    "--seed", "1", "--seconds", "1", "--scale", scale, "--dump", str(dump)],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    con = duckdb.connect()
    for t in (BENCH / "data" / sf).glob("*.parquet"):
        con.sql(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
    oracle = json.loads((dump / "oracle_sql.json").read_text())
    fps = json.loads((dump / "fingerprints.json").read_text())
    bad = 0
    for name in fps:
        if name not in oracle:
            print(f"FAIL {name}: no oracle SQL"); bad += 1; continue
        err = same(pq.read_table(dump / name).to_pandas(), con.sql(oracle[name]).df())
        print(f"{'FAIL' if err else 'PASS'} {name}{': ' + err if err else ''}")
        bad += bool(err)
    if bad:
        return False
    out = BENCH / "fingerprints" / f"catalog_flight-{sf}.json"
    out.write_text(json.dumps(fps, indent=1) + "\n")
    print(f"wrote {out.relative_to(ROOT)}")
    shutil.rmtree(dump, ignore_errors=True)
    return True


if __name__ == "__main__":
    ok = all([verify("full", "sf0.01"), verify("tiny", "sf0.001")])
    sys.exit(0 if ok else 1)
