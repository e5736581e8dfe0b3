"""Tests of the benchmark itself.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The corruption tests start Spark (about a minute each).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, run  # noqa: E402

SMALL = {
    "star": {"n_rows": 2000, "n_customers": 200, "n_products": 50, "n_stores": 10},
    "serving": {"n_sales": 5000, "n_customers": 200, "n_products": 50, "n_stores": 10, "n_orders": 3000},
    "corpus": {"n_docs": 500},
}
MAKERS = {"star": gen.star_inputs, "serving": gen.serving_inputs, "corpus": gen.corpus_inputs}
WORKLOAD_SIZES = {
    "batch_etl": {"star": SMALL["star"], "corpus": SMALL["corpus"]},
    "lakehouse_serving": SMALL["serving"],
}


def _contents(path: Path) -> dict:
    """Every file's content under a generated input dir (parquet as tables)."""
    out = {}
    for f in sorted(path.rglob("*")):
        if f.suffix == ".parquet":
            out[str(f.relative_to(path))] = pq.read_table(f).to_pydict()
        elif f.suffix == ".json":
            out[str(f.relative_to(path))] = json.loads(f.read_text())
    return out


@pytest.mark.parametrize("kind", sorted(MAKERS))
def test_same_seed_same_inputs_other_seed_other_inputs(kind, tmp_path):
    make, sizes = MAKERS[kind], SMALL[kind]
    a = _contents(make(7, tmp_path / "a", sizes))
    b = _contents(make(7, tmp_path / "b", sizes))
    c = _contents(make(8, tmp_path / "c", sizes))
    assert a and a == b
    assert a.keys() == c.keys() and a != c


def test_status_and_name_variants_clean_to_their_golden_values():
    from ecu_sbl_aace_datalake_spark.functions.cleaning import fix_dodgy_statuses, fix_up_name

    for canon, variants in gen.STATUS_VARIANTS.items():
        for v in variants:
            assert fix_dodgy_statuses(v) == canon
    assert fix_dodgy_statuses(None) == gen.STATUS_NONE
    assert fix_dodgy_statuses("") == gen.STATUS_NONE
    for k in range(gen.N_NAME_VARIANTS):
        assert fix_up_name(gen._name_variant("Mary", "Brooks", k)) == "Mary Brooks"


def test_fingerprint_matches_engine(tmp_path):
    """gen.fingerprint is the engine's table_fingerprint, in Python."""
    import datetime as dt

    from ecu_sbl_aace_datalake_spark.operators.transform import table_fingerprint

    rows = [(1, "a", dt.date(2025, 3, 4), True, None), (2, "", dt.date(2025, 12, 31), False, 7)]
    ctx = run.Ctx("tests", tmp_path, trace=False)
    run._prepare_env(tmp_path, ctx.nproc)
    ctx.start_session()
    try:
        df = ctx.spark.createDataFrame(rows, "a bigint, b string, c date, d boolean, e bigint")
        got = table_fingerprint(df).first()
    finally:
        ctx.close()
    assert (int(got["n_rows"]), int(got["checksum"])) == gen.fingerprint(rows)


# ---------------------------------------------------- corruption is caught

def _drop_one_fact_file(ctx, st, op):
    files = sorted(Path(st.star.lh.tables_path, "fact_sales").rglob("*.parquet"))
    files[0].unlink()


def _delete_an_orders_row(ctx, st):
    """Rewrite one orders file without its first row (and drop its Hadoop
    checksum file, so the change is silent)."""
    f = sorted(Path(st.lh.tables_path, "orders").rglob("*.parquet"))[0]
    t = pq.ParquetFile(f).read()
    pq.write_table(t.slice(1), f)
    f.with_name(f".{f.name}.crc").unlink(missing_ok=True)


def _duplicate_a_corpus_file(ctx, st, op):
    files = sorted(Path(st.corpus.lh.tables_path, "corpus_packed").glob("*.parquet"))
    big = max(files, key=lambda f: f.stat().st_size)
    (big.parent / ("dup-" + big.name)).write_bytes(big.read_bytes())


def _run_corrupted(workload: str, corrupt: str) -> dict:
    """Run a workload with a corruption hook in a fresh interpreter: each
    run owns one JVM, and the engine's module-level UDFs stay bound to the
    first JVM a process starts."""
    code = (
        "import json, sys; sys.path.insert(0, sys.argv[1]);"
        "from perfbench import run; from perfbench.tests import test_perfbench as t;"
        "run.SETUP_ROUNDS = 1;"
        "res = run.run_workload(sys.argv[2], 3, 1.0, False, sizes=t.WORKLOAD_SIZES[sys.argv[2]],"
        " corrupt=getattr(t, sys.argv[3]));"
        "print(json.dumps(res))"
    )
    p = subprocess.run([sys.executable, "-c", code, str(ROOT), workload, corrupt],
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,corrupt,stage", [
    ("batch_etl", "_drop_one_fact_file", "star_etl"),
    ("batch_etl", "_duplicate_a_corpus_file", "corpus_prep"),
    ("lakehouse_serving", "_delete_an_orders_row", "final orders fingerprint"),
])
def test_corrupted_output_is_counted_in_failed_frac(workload, corrupt, stage):
    res = _run_corrupted(workload, corrupt)
    assert res["failed"] >= 1
    assert any(stage in f for f in res["_report"]["failures"])
    assert res["_report"]["failed_frac"] > 0
    assert res["correct"] is False


def test_benchmark_json_matches_the_runner():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
    assert all(len(w["why"]) <= 200 for w in bench["workloads"])
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"]) <= 0.25
