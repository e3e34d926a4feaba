"""Smoke tests for the driver-facing registry: every query runs at sf0.001,
returns a stable schema, and the entry() flagship returns rows."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod
from comp5339dataengineering_realtimefuelanalysis_spark.plans.registry import (
    ATTESTATION_WINDOW,
    REGISTRY,
    last_attested_round,
)

from tests.conftest import SF_SMOKE


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_queries_and_oracles_consistent():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) == len(REGISTRY)


def test_attestation_rotation_keeps_window_fresh():
    """The driver attests only the first ATTESTATION_WINDOW registry
    entries per round. The generated rotation must guarantee no query goes
    unattested two rounds running: every entry rotated beyond the window
    must carry an attestation from the latest or next-to-latest recorded
    round."""
    last = last_attested_round(REGISTRY)
    latest = max(last.values())
    if latest < 0:  # fresh clone, no correctness artifacts yet
        return
    names = list(REGISTRY)
    # plan-changed (FORCE_ATTEST-pending) entries take the head; after
    # them, never-attested and stalest entries must iterate first
    from comp5339dataengineering_realtimefuelanalysis_spark.plans.registry import (
        FORCE_ATTEST,
    )

    forced = [
        n for n in names
        if n in FORCE_ATTEST and last[n] < FORCE_ATTEST[n]
    ]
    assert names[: len(forced)] == forced
    rounds_in_order = [last[n] for n in names[len(forced):]]
    assert rounds_in_order == sorted(rounds_in_order)
    stale = [
        n for n in names[ATTESTATION_WINDOW:] if last[n] < latest - 1
    ]
    assert not stale, (
        f"queries beyond the {ATTESTATION_WINDOW}-row driver window with "
        f"no attestation in rounds {latest - 1}-{latest}: {stale}"
    )


def _by_name(cols, rows):
    """Rows as sorted tuples, columns in name order (the driver's
    compare: Spark and the oracle may project in different orders)."""
    order = sorted(range(len(cols)), key=cols.__getitem__)
    return sorted(tuple(r[i] for i in order) for r in rows)


def _spark_rows(df):
    return _by_name(df.columns, df.collect())


def _oracle_rows(sql):
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    res = con.execute(sql)
    return _by_name([c[0] for c in res.description], res.fetchall())


def test_curation_pipeline_sem_mode_auto_switches(spark, monkeypatch):
    """The pipeline's semantic stage uses single-level blocking up to
    _SEM_MODE_CROSSOVER survivors and two-level product blocking above
    it. Both blockings give the same rows at SF_SMOKE, so the output
    alone cannot show the switch: a spy on _sem2_blocked (called on the
    two-level path only) counts it. Each run must also equal the DuckDB
    replay built under the same constant."""
    from comp5339dataengineering_realtimefuelanalysis_spark.plans import (
        registry_llm as rl,
    )

    calls = []
    sem2_blocked = rl._sem2_blocked

    def spy(*args):
        calls.append(args)
        return sem2_blocked(*args)

    monkeypatch.setattr(rl, "_sem2_blocked", spy)
    for crossover, n_calls in ((rl._SEM_MODE_CROSSOVER, 0), (0, 1)):
        monkeypatch.setattr(rl, "_SEM_MODE_CROSSOVER", crossover)
        got = _spark_rows(rl.q_corpus_curation_pipeline(spark, SF_SMOKE))
        assert got, crossover
        assert got == _oracle_rows(rl._sql_curation_pipeline()), crossover
        assert len(calls) == n_calls, crossover


def test_curation_2l_same_from_either_stage9_source(spark, monkeypatch):
    """corpus_curation_pipeline_2l reads the stage-9 survivor table
    through _stage9_path. On a fresh cache the default build runs the
    pipeline's stage 1-9 function; after a pipeline run the table that
    run published is read back and stages 1-9 do not run again. Both
    sources must hold the DuckDB replay's stage-9 survivors and give
    its corpus_curation_pipeline_2l rows."""
    from comp5339dataengineering_realtimefuelanalysis_spark.functions import (
        caching,
    )
    from comp5339dataengineering_realtimefuelanalysis_spark.plans import (
        registry_llm as rl,
    )

    builds = []
    stages_1_9 = rl._curation_stages_1_9

    def spy(*args):
        builds.append(args)
        return stages_1_9(*args)

    monkeypatch.setattr(rl, "_curation_stages_1_9", spy)
    want = _oracle_rows(rl._sql_curation_2l_attest())
    want_stage9 = _oracle_rows(
        f"WITH RECURSIVE {rl._sql_stage9_ctes()} SELECT doc_id FROM nondup"
    )
    assert want and want_stage9

    def stage9():
        path = rl._stage9_path(spark, SF_SMOKE)
        return _spark_rows(spark.read.parquet(path).select("doc_id"))

    caching.release_materialized()
    fresh = _spark_rows(rl.q_corpus_curation_pipeline_2l(spark, SF_SMOKE))
    assert len(builds) == 1
    assert fresh == want
    assert stage9() == want_stage9

    caching.release_materialized()
    rl.q_corpus_curation_pipeline(spark, SF_SMOKE)
    assert len(builds) == 2
    published = _spark_rows(rl.q_corpus_curation_pipeline_2l(spark, SF_SMOKE))
    assert len(builds) == 2
    assert published == want
    assert stage9() == want_stage9


def test_pipeline_banding_pinned_to_knee():
    """The pipeline's stage-5 banding is the measured knee at every
    scale (the r18 sweep found no crossover: pipe_banding_crossover in
    SCALE_MEASURED.json), and the oracle replays exactly that chain:
    the stage-9 CTEs carry all 48 knee minhash columns, no more."""
    from comp5339dataengineering_realtimefuelanalysis_spark.plans import (
        registry_llm as rl,
    )

    sql = rl._sql_stage9_ctes()
    assert f"mh_{rl._KNEE_NUM_HASHES - 1}" in sql
    assert f"mh_{rl._KNEE_NUM_HASHES}" not in sql


def test_every_query_runs_at_smoke_sf(spark):
    for name, qd in REGISTRY.items():
        df = qd.fn(spark, SF_SMOKE)
        assert df.columns, name
        assert df.count() >= 0, name


def test_oracle_columns_match_spark_columns(spark):
    """The driver sorts columns by name before hashing — a name mismatch
    between the Spark result and the oracle projection fails the gate even
    when values agree. Catch it cheaply here."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        path = f"{SF_SMOKE}/{t}.parquet"
        if Path(path).exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    for name, qd in REGISTRY.items():
        if not qd.oracle:
            continue
        d = con.execute(qd.oracle)
        d_cols = sorted(c[0] for c in d.description)
        s_cols = sorted(qd.fn(spark, SF_SMOKE).columns)
        assert s_cols == d_cols, f"{name}: {s_cols} != {d_cols}"


def test_no_oracle_output_types_hugeint_or_decimal():
    """The driver fetches oracle results through pandas/arrow, where
    DuckDB renders HUGEINT (the implicit promotion of SUM(BIGINT)) and
    DECIMAL as float64/decimal128 — which can never value-hash-match
    Spark's int64, even when the values are identical integers.  This
    killed doc_bm25_topk for two driver rounds (rounds 14-15: the single
    uncast `SUM(sterm)` among 93 oracles).  Bind every registry oracle
    and assert no output column types as HUGEINT/UHUGEINT/DECIMAL —
    integer aggregates must be wrapped in CAST(... AS BIGINT)."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        path = f"{SF_SMOKE}/{t}.parquet"
        if Path(path).exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    banned = ("HUGEINT", "UHUGEINT", "DECIMAL")
    bad = []
    for name, qd in REGISTRY.items():
        if not qd.oracle:
            continue
        rel = con.sql(qd.oracle)  # binds (types resolve) without running
        for col, typ in zip(rel.columns, rel.types):
            t_up = str(typ).upper()
            if any(b in t_up for b in banned):
                bad.append(f"{name}.{col}: {t_up}")
    assert not bad, f"hash-unportable oracle output types: {bad}"


def test_bench_iterates_canonical_order():
    """Bench timings must be comparable across rounds: the loop order
    must be the registry's definition order, never the attestation-
    rotated order (r16: emb_ivf_topk_probes2 swung 2.2x with an
    unchanged plan purely from rotation-driven neighbor warmth)."""
    import bench
    from comp5339dataengineering_realtimefuelanalysis_spark.plans.registry import (
        CANONICAL_ORDER,
    )

    assert [n for n, _ in bench.BENCH_ITEMS] == list(CANONICAL_ORDER)
    assert set(CANONICAL_ORDER) == set(REGISTRY)


def _spark_type_cat(t: str) -> str:
    """Hash-compatibility category of a Spark simpleString dtype."""
    t = t.lower()
    if t.startswith("array<") and t.endswith(">"):
        return "array<" + _spark_type_cat(t[6:-1]) + ">"
    if t in ("byte", "short", "int", "integer", "bigint", "long"):
        return "int"
    if t == "double":
        return "float"
    if t == "float":
        return "float32"  # 32-bit: repr precision diverges from DOUBLE
    if t.startswith("decimal"):
        return "decimal"
    if t.startswith("timestamp"):
        return "timestamp"
    return t  # string, boolean, date, ...


def _duck_type_cat(t: str) -> str:
    """Hash-compatibility category of a bound DuckDB output type."""
    t = str(t).upper()
    if t.endswith("[]"):
        return "array<" + _duck_type_cat(t[:-2]) + ">"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "REAL"):
        return "float32"
    if t == "DOUBLE":
        return "float"
    if "DECIMAL" in t or "HUGEINT" in t:
        return "decimal"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    return {"VARCHAR": "string", "BOOLEAN": "boolean",
            "DATE": "date"}.get(t, t.lower())


def test_spark_output_types_hash_compatible_with_oracle(spark):
    """Symmetric twin of the HUGEINT/DECIMAL oracle guard, from the
    Spark side: the driver's value hash normalizes ints as str(int) and
    floats as repr(float), so a cross-engine int-vs-double column (or a
    Spark DecimalType / 32-bit FloatType output) is guaranteed red even
    when every value agrees. Bind both engines' schemas and assert each
    shared output column lands in the same hash-compatibility category —
    so a future Spark-side refactor (e.g. a dec_sum or a float32 cast)
    can't reintroduce the bug class the r16 oracle-side test killed."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        path = f"{SF_SMOKE}/{t}.parquet"
        if Path(path).exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    bad = []
    for name, qd in REGISTRY.items():
        if not qd.oracle:
            continue
        sdf = qd.fn(spark, SF_SMOKE)
        # name-keyed dicts would silently collapse duplicate output
        # column names to the last occurrence (masking exactly the
        # multi-column-same-name case the driver's sort-by-name compare
        # is most fragile on) — ban dup names outright first.
        s_names = [f.name for f in sdf.schema.fields]
        rel = con.sql(qd.oracle)  # binds types without executing
        if len(set(s_names)) != len(s_names):
            bad.append(f"{name}: duplicate Spark output columns "
                       f"{s_names}")
            continue
        if len(set(rel.columns)) != len(rel.columns):
            bad.append(f"{name}: duplicate oracle output columns "
                       f"{rel.columns}")
            continue
        s_cats = {f.name: _spark_type_cat(f.dataType.simpleString())
                  for f in sdf.schema.fields}
        d_cats = dict(zip(rel.columns,
                          (_duck_type_cat(t) for t in rel.types)))
        for col, s_cat in s_cats.items():
            # decimal is unconditionally banned (Spark collects it as
            # decimal.Decimal, whose repr never matches int/float);
            # float32 is legal ONLY when the oracle column is also
            # 32-bit (identical bits widen to identical doubles —
            # doc_embed_hash.value is the green precedent), which the
            # category equality below enforces.
            if s_cat == "decimal":
                bad.append(f"{name}.{col}: Spark {s_cat} is "
                           "hash-unportable")
            d_cat = d_cats.get(col)
            if d_cat is not None and d_cat != s_cat:
                bad.append(
                    f"{name}.{col}: Spark {s_cat} vs oracle {d_cat}"
                )
    assert not bad, f"cross-engine hash-incompatible output types: {bad}"


def test_load_table_normalizes_ts_encodings(spark, tmp_path):
    """Declared ts columns normalize to TIMESTAMP whatever the fixture
    encoding — the environment has re-encoded fixtures between rounds
    once already (nanos bigint -> TIMESTAMP_NTZ); DATE is the next
    plausible shift."""
    import pandas as pd

    from comp5339dataengineering_realtimefuelanalysis_spark.plans.base import (
        load_table,
    )

    df = pd.DataFrame(
        {
            "o_orderkey": [1, 2],
            "o_orderdate": pd.to_datetime(["2024-01-01", "2024-02-02"]).date,
        }
    )
    df.to_parquet(tmp_path / "orders.parquet", index=False)
    loaded = load_table(spark, str(tmp_path), "orders")
    assert dict(loaded.dtypes)["o_orderdate"] == "timestamp"
    got = {r.o_orderdate.isoformat() for r in loaded.collect()}
    assert got == {"2024-01-01T00:00:00", "2024-02-02T00:00:00"}


def test_leading_column_is_high_cardinality():
    """load_table's single-split recovery hashes only a table's FIRST
    column, which spreads rows evenly only while that column is a
    high-cardinality key. Pin it for every shipped table: at least
    rows/8 distinct leading values."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    paths = sorted(Path(SF_SMOKE).glob("*.parquet"))
    assert paths
    for path in paths:
        t = pq.read_table(path)
        lead = t.column(0)
        distinct = pc.count_distinct(lead).as_py()
        assert distinct * 8 >= t.num_rows, (path.name, distinct, t.num_rows)


def test_package_reads_only_deployment_env():
    """The package reads only its deployment settings from the
    environment — no env var selects between two implementations of
    an operator. Every os.environ / os.getenv read must name one of
    them literally, and no other SPARK_GRAFT_* name may appear."""
    import ast

    allowed = {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_REPO_ROOT",
    }

    def is_environ(node):
        return (
            isinstance(node, ast.Attribute)
            and node.attr == "environ"
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        )

    def key_name(node):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        return f"<non-literal at line {node.lineno}>"

    pkg = Path(__file__).resolve().parents[1] / (
        "comp5339dataengineering_realtimefuelanalysis_spark"
    )
    reads, names = set(), set()
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call) and isinstance(
                node.func, ast.Attribute
            ):
                f = node.func
                if (is_environ(f.value) and f.attr == "get") or (
                    f.attr == "getenv"
                    and isinstance(f.value, ast.Name)
                    and f.value.id == "os"
                ):
                    reads.add((path.name, key_name(node.args[0])))
            elif (
                isinstance(node, ast.Subscript)
                and is_environ(node.value)
                and isinstance(node.ctx, ast.Load)
            ):
                reads.add((path.name, key_name(node.slice)))
            elif isinstance(node, ast.Compare) and any(
                is_environ(c) for c in node.comparators
            ):
                reads.add((path.name, key_name(node.left)))
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.startswith("SPARK_GRAFT_")
            ):
                names.add(node.value)
    assert {key for _, key in reads} == allowed, sorted(reads)
    assert names <= allowed, sorted(names - allowed)


def test_package_writes_streaming_output_only_through_epoch_writers():
    """Every streaming sink commits a micro-batch through
    ``sinks/writers.py`` (``write_epoch`` / ``overwrite_epochs``), so a
    replayed epoch replaces its own output. No module may set
    ``partitionOverwriteMode`` itself, and no write may append: an
    append duplicates whatever a replayed epoch had already written.
    The ``ingest_epoch=<id>`` layout itself is known to that module
    alone: no other module may partition by ``ingest_epoch`` or spell
    an ``ingest_epoch=`` path (f-strings included)."""
    import ast

    pkg = Path(__file__).resolve().parents[1] / (
        "comp5339dataengineering_realtimefuelanalysis_spark"
    )
    writers = pkg / "sinks" / "writers.py"

    def is_append(node):
        return isinstance(node, ast.Constant) and node.value == "append"

    def is_str(node, text):
        return (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and text in node.value
        )

    overwrite_mode, appends, layout = [], [], []
    for path in sorted(pkg.rglob("*.py")):
        where = str(path.relative_to(pkg))
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if path != writers and is_str(node, "partitionOverwriteMode"):
                overwrite_mode.append(f"{where}:{node.lineno}")
            elif path != writers and is_str(node, "ingest_epoch="):
                # an f-string's literal parts are Constant nodes too
                layout.append(f"{where}:{node.lineno}")
            elif isinstance(node, ast.Call):
                f = node.func
                if (
                    isinstance(f, ast.Attribute)
                    and f.attr == "mode"
                    and node.args
                    and is_append(node.args[0])
                ) or any(
                    k.arg == "mode" and is_append(k.value)
                    for k in node.keywords
                ):
                    appends.append(f"{where}:{node.lineno}")
                elif (
                    path != writers
                    and isinstance(f, ast.Attribute)
                    and f.attr == "partitionBy"
                    and any(is_str(a, "ingest_epoch") for a in node.args)
                ):
                    # the line the call itself is on, not the chain's
                    layout.append(f"{where}:{f.end_lineno}")
    assert overwrite_mode == [], overwrite_mode
    assert appends == [], appends
    assert layout == [], layout
