"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs every registry query on Spark AND its oracle SQL on DuckDB at the given
scale factor, then compares:
  * row count
  * column names (sorted)
  * order-insensitive exact value hash (strings via repr; floats compared
    bit-exact first, with a 1e-9-relative fallback reported separately so
    near-misses are visible instead of silently passing)

A full run also compares the curation pipeline's published stage-9
survivor ids with the oracle's ``nondup`` CTE and reports that on its own
line, outside the per-query tally.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, decimal.Decimal):
        return repr(v)  # distinct from int on purpose: a Decimal here
        # means an uncast HUGEINT/DECIMAL oracle output, which the
        # driver's hash will never match against Spark's int64.
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(float(v))  # canonicalize np.float64 (repr differs)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def frame_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def approx_equal(spark_rows, duck_rows, cols_s, cols_d):
    """Fallback: sorted-row compare with relative float tolerance."""
    if len(spark_rows) != len(duck_rows):
        return False
    oi_s = sorted(range(len(cols_s)), key=lambda i: cols_s[i])
    oi_d = sorted(range(len(cols_d)), key=lambda i: cols_d[i])

    def keyed(rows, order):
        return sorted(
            tuple(r[i] for i in order) for r in [list(map(norm_sortable, row)) for row in rows]
        )

    def norm_sortable(v):
        return "∅" if v is None else (repr(v) if isinstance(v, float) else str(v))

    a = sorted(tuple(norm_sortable(r[i]) for i in oi_s) for r in spark_rows)
    b = sorted(tuple(norm_sortable(r[i]) for i in oi_d) for r in duck_rows)
    n_float_close = 0
    for ra, rb in zip(a, b):
        for va, vb in zip(ra, rb):
            if va == vb:
                continue
            try:
                fa, fb = float(va), float(vb)
            except ValueError:
                return False
            if fa == fb or abs(fa - fb) <= 1e-9 * max(abs(fa), abs(fb), 1.0):
                n_float_close += 1
                continue
            return False
    return True


LEDGER_BEGIN = (
    "<!-- BEGIN GENERATED: attestation ledger "
    "(tools/check_correctness.py — do not hand-edit) -->"
)
LEDGER_END = "<!-- END GENERATED: attestation ledger -->"


def write_attestation_ledger(results: dict[str, str], sf_dir: str) -> None:
    """Regenerate the COVERAGE.md attestation-ledger section: every
    registry query -> the newest round whose CORRECTNESS_r{N}.json
    attests it green (the driver records only a 50-query window per
    round, so any single artifact under-reports) + this run's local
    oracle-gate status. One command rebuilds it:
    ``python tools/check_correctness.py`` over the full registry."""
    from comp5339dataengineering_realtimefuelanalysis_spark.plans.registry import (
        REGISTRY,
        last_attested_round,
    )

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last = last_attested_round(REGISTRY)
    n_attested = sum(1 for v in last.values() if v >= 0)
    lines = [
        LEDGER_BEGIN,
        "",
        "## Attestation ledger (generated)",
        "",
        "The driver attests only the first "
        "50 registry entries per round (the registry self-rotates by "
        "staleness so every query cycles through the window). This "
        "table is the union across ALL `CORRECTNESS_r*.json` rounds "
        "plus the local full-registry oracle gate, regenerated by "
        f"`python tools/check_correctness.py {sf_dir}`:",
        "",
        f"**{n_attested}/{len(REGISTRY)} driver-attested green** "
        "(last-attested round per query below); local gate statuses "
        "from this run.",
        "",
        "| Query | Last driver-attested round | Local gate |",
        "|---|---|---|",
    ]
    for name in sorted(REGISTRY):
        rnd = last[name]
        rtxt = f"r{rnd}" if rnd >= 0 else "never"
        lines.append(
            f"| `{name}` | {rtxt} | {results.get(name, '—')} |"
        )
    lines += ["", LEDGER_END]
    block = "\n".join(lines)

    path = os.path.join(root, "COVERAGE.md")
    try:
        with open(path) as f:
            doc = f.read()
    except OSError:
        doc = "# COVERAGE\n"
    if LEDGER_BEGIN in doc and LEDGER_END in doc:
        head = doc.split(LEDGER_BEGIN)[0].rstrip()
        tail = doc.split(LEDGER_END, 1)[1].lstrip("\n")
        doc = head + "\n\n" + block + ("\n\n" + tail if tail else "\n")
    else:
        doc = doc.rstrip() + "\n\n" + block + "\n"
    with open(path, "w") as f:
        f.write(doc)
    print(f"attestation ledger regenerated in {path}")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from comp5339dataengineering_realtimefuelanalysis_spark.session import get_spark
    from comp5339dataengineering_realtimefuelanalysis_spark.plans.registry import REGISTRY

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    n_pass = n_near = n_fail = 0
    results: dict[str, str] = {}
    for name, qd in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = qd.fn(spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
        if qd.oracle is None:
            print(f"  {name:28s} rows={len(s_rows):7d}  (no oracle — rows-only)")
            results[name] = f"rows-only ({len(s_rows)} rows)"
            continue
        d = con.execute(qd.oracle)
        d_cols = [c[0] for c in d.description]
        # Fetch through arrow, NOT fetchall(): the grading driver reads
        # oracle results via an arrow/pandas path where DuckDB renders
        # HUGEINT (the implicit promotion of SUM(BIGINT)) as
        # decimal128/Decimal — fetchall() gives exact Python ints and
        # masked exactly that divergence for two rounds (doc_bm25_topk,
        # rounds 14-15).  Arrow matches the driver's observed behavior:
        # nullable int64 stays int (purchase_attribution driver-green)
        # while HUGEINT becomes Decimal and hash-diverges (BM25 driver-
        # red).  Same fetch path as the driver or the gate isn't a gate.
        tbl = d.fetch_arrow_table()
        # Positional column extraction, NOT to_pylist(): that returns
        # dicts keyed by column name, so an oracle with duplicate output
        # names would silently collapse to the last column (masking a
        # divergence the driver would see). zip of per-column lists
        # preserves every column regardless of name collisions.
        d_rows = list(
            zip(*[tbl.column(i).to_pylist()
                  for i in range(tbl.num_columns)])
        ) if tbl.num_columns else []
        dt = time.time() - t0

        status = None
        if len(s_rows) != len(d_rows):
            status = f"FAIL rows {len(s_rows)} vs {len(d_rows)}"
        elif sorted(s_cols) != sorted(d_cols):
            status = f"FAIL cols {sorted(s_cols)} vs {sorted(d_cols)}"
        elif frame_key(s_rows, s_cols) == frame_key(d_rows, d_cols):
            status = "PASS"
        elif approx_equal(s_rows, d_rows, s_cols, d_cols):
            status = "NEAR (float-tolerance only — tighten!)"
        else:
            status = "FAIL value-hash"
        mark = "✓" if status == "PASS" else "✗"
        results[name] = status
        if status == "PASS":
            n_pass += 1
        elif status.startswith("NEAR"):
            n_near += 1
        else:
            n_fail += 1
        print(f"{mark} {name:28s} rows={len(s_rows):7d} {dt:6.2f}s  {status}")
        if status.startswith("FAIL") and len(s_rows) == len(d_rows):
            # show a sample diff to debug
            oi_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
            oi_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
            a = sorted("\x1f".join(norm_cell(r[i]) for i in oi_s) for r in s_rows)
            b = sorted("\x1f".join(norm_cell(r[i]) for i in oi_d) for r in d_rows)
            for x, y in zip(a, b):
                if x != y:
                    print(f"    spark: {x[:200]}")
                    print(f"    duck : {y[:200]}")
                    break

    print(f"\n{n_pass} pass, {n_near} near, {n_fail} fail")
    stage9_ok = True
    if not only:
        stage9_ok = check_stage9(spark, con, sf_dir)
        write_attestation_ledger(results, sf_dir)
    spark.stop()
    return 1 if (n_fail or n_near or not stage9_ok) else 0


def check_stage9(spark, con, sf_dir: str) -> bool:
    """The curation pipeline's stage-9 survivor ids (the shared
    _stage9_path table) against the oracle's ``nondup`` CTE. No registry
    query's oracle sees stage 9 alone: the pipeline's sees it only
    through the later stages."""
    from comp5339dataengineering_realtimefuelanalysis_spark.plans import (
        registry_llm as rl,
    )

    got = {
        r.doc_id
        for r in spark.read.parquet(rl._stage9_path(spark, sf_dir))
        .select("doc_id")
        .collect()
    }
    want = {
        r[0]
        for r in con.execute(
            f"WITH RECURSIVE {rl._sql_stage9_ctes()} "
            "SELECT doc_id FROM nondup"
        ).fetchall()
    }
    ok = got == want
    print(
        f"stage 9 ids: {'PASS' if ok else 'FAIL'} "
        f"({len(got)} spark, {len(want)} oracle, "
        f"{len(got ^ want)} differ)"
    )
    return ok


if __name__ == "__main__":
    raise SystemExit(main())
