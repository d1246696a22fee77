#!/usr/bin/env python3
"""Cross-check the tracer's input_mb against DuckDB on one corpus span.

    python3 perfbench/check_input_mb.py --seed 3

Runs a traced corpus_dedup run that keeps its work directory, then compares
the `operators.features` span's input_mb (Spark task inputMetrics.bytesRead,
mean per pass) with DuckDB `parquet_metadata` compressed sizes of the columns
that span's scans project (doc_id, text of the corpus). The features stage
scans the corpus once per independent branch, so the ratio should be a small
whole number (the scan count). Prints one JSON line with both figures.
"""
import argparse
import json
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb

ROOT = Path.cwd()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=3)
    a = ap.parse_args()
    res = subprocess.run([sys.executable, str(Path(__file__).parent / "run.py"),
                          "--workload", "corpus_dedup", "--seed", str(a.seed), "--seconds", "1",
                          "--trace", "1", "--keep-work"], capture_output=True, text=True)
    if res.returncode != 0:
        sys.exit(res.stderr[-2000:])
    kept = [l.split("kept ", 1)[1] for l in res.stderr.splitlines() if "perfbench: kept " in l]
    work = Path(kept[-1])
    report = json.loads((work.parent / "results" / f"corpus_dedup-seed{a.seed}-trace1.json").read_text())
    span_mb = report["spans"]["operators.features"]["input_mb"]
    glob = str(work / "corpus" / "docs" / "*.parquet")
    cols = duckdb.sql(
        f"SELECT path_in_schema, sum(total_compressed_size) AS b FROM parquet_metadata('{glob}') "
        "WHERE path_in_schema IN ('doc_id', 'text') GROUP BY 1").fetchall()
    projected_mb = sum(b for _, b in cols) / 2**20
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"span": "operators.features", "input_mb": span_mb,
                      "duckdb_projected_compressed_mb": projected_mb,
                      "ratio": span_mb / projected_mb if projected_mb else None,
                      "columns": {c: b for c, b in cols}}))


if __name__ == "__main__":
    main()
