"""Record the curation workload's reference outputs from the DuckDB oracle.

    python3 perfbench/record_reference.py

For every query of ``registry_workloads.CURATION_QUERIES`` this writes the
oracle's row count, sorted column names and exact value hash
(``tools/check_correctness.py``'s ``frame_key``) on the benchmark's copy
of the tables to ``reference/registry_<sf>.json``. Re-run only when the
tables or the queries' definitions change; ``tools/check_correctness.py``
shows whether Spark agrees with the oracle. At sf0.1 the oracle takes
several minutes.
"""

from __future__ import annotations

import importlib.util
import json
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

import registry_workloads as rw  # noqa: E402


def main() -> int:
    import duckdb

    from comp5339dataengineering_realtimefuelanalysis_spark.plans.registry import REGISTRY

    spec = importlib.util.spec_from_file_location(
        "check_correctness", ROOT / "tools" / "check_correctness.py"
    )
    cc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cc)

    sf_dir = HERE / "data" / rw.SF
    con = duckdb.connect()
    for t in cc.TABLES:
        path = sf_dir / f"{t}.parquet"
        if path.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    out = {}
    for name in rw.CURATION_QUERIES:
        t0 = time.perf_counter()
        res = con.execute(REGISTRY[name].oracle)
        cols = [c[0] for c in res.description]
        tbl = res.fetch_arrow_table()
        rows = list(zip(*[tbl.column(i).to_pylist() for i in range(tbl.num_columns)]))
        out[name] = {"rows": len(rows), "cols": sorted(cols), "hash": cc.frame_key(rows, cols)}
        print(f"{name:32s} {time.perf_counter() - t0:6.1f} s {out[name]}", flush=True)
    path = rw.reference_path(HERE)
    path.parent.mkdir(exist_ok=True)
    doc = {
        "source": "DuckDB oracle SQL",
        "tables": f"perfbench/data/{rw.SF}",
        "queries": out,
    }
    path.write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")
    print(f"wrote {path.relative_to(ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
