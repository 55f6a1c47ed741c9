"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The last test makes two traced runs per workload (a few minutes).
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SMALL_CORPUS = dict(gen.CORPUS_PARAMS, docs=4000, files=4)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_corpus_generator_is_deterministic(tmp_path):
    dirs = [tmp_path / name for name in ("a", "b", "c")]
    for d in dirs:
        d.mkdir()
    stats_a = gen.make_corpus(str(dirs[0]), seed=7, params=SMALL_CORPUS)
    stats_b = gen.make_corpus(str(dirs[1]), seed=7, params=SMALL_CORPUS)
    gen.make_corpus(str(dirs[2]), seed=8, params=SMALL_CORPUS)
    assert stats_a == stats_b
    assert stats_a["files"] == SMALL_CORPUS["files"]
    assert _same_tree(str(dirs[0]), str(dirs[1]))
    assert not _same_tree(str(dirs[0]), str(dirs[2]))


SMALL_ROWS = {name: max(1, n // 10) for name, n in gen.TABLE_ROWS.items()}


def test_tables_generator_is_deterministic(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        (tmp_path / name).mkdir()
        gen.make_tables(str(tmp_path / name), seed=seed, rows=SMALL_ROWS)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


# Column types of the engine's sf0.01 test tables, except events.ts:
# those files store microseconds, while session.py and
# sources/catalog.py are written for TIMESTAMP(NANOS), which the
# generator writes so that load_table's conversion runs.
CATALOG_SCHEMAS = {
    "region": "r_regionkey: int32, r_name: string",
    "nation": "n_nationkey: int32, n_name: string, n_regionkey: int32",
    "customer": "c_custkey: int64, c_name: string, c_nationkey: int32, c_acctbal: double, "
    "c_mktsegment: string",
    "supplier": "s_suppkey: int64, s_name: string, s_nationkey: int32, s_acctbal: double",
    "part": "p_partkey: int64, p_name: string, p_brand: string, p_type: string, p_size: int32, "
    "p_retailprice: double",
    "orders": "o_orderkey: int64, o_custkey: int64, o_orderstatus: string, o_totalprice: double, "
    "o_orderdate: timestamp[us], o_orderpriority: string",
    "lineitem": "l_orderkey: int64, l_partkey: int64, l_suppkey: int64, l_linenumber: int32, "
    "l_quantity: double, l_extendedprice: double, l_discount: double, l_tax: double, "
    "l_returnflag: string, l_linestatus: string, l_shipdate: timestamp[us]",
    "events": "event_id: int64, ts: timestamp[ns], user_id: int64, event_type: string, "
    "value: double, props: string",
    "documents": "doc_id: int64, text: string, lang: string, source: string, n_chars: int64",
    "embeddings": "vec_id: int64, embedding: list<element: float>, label: int32",
}
CATALOG_ROWS = {"region": 5, "nation": 25, "customer": 1500, "supplier": 100, "part": 2000,
                "orders": 15000, "lineitem": 60000, "events": 10000, "documents": 500,
                "embeddings": 500}


def test_tables_match_the_catalog(tmp_path):
    import pyarrow.parquet as pq

    from mapreduce_implementation_grpc_spark.sources.catalog import TABLES

    gen.make_tables(str(tmp_path), seed=1)
    assert sorted(os.listdir(tmp_path)) == sorted(f"{t}.parquet" for t in TABLES)
    for name in TABLES:
        table = pq.read_table(tmp_path / f"{name}.parquet")
        schema = ", ".join(f"{f.name}: {f.type}" for f in table.schema)
        assert schema == CATALOG_SCHEMAS[name], name
        assert table.num_rows == CATALOG_ROWS[name], name
    emb = pq.read_table(tmp_path / "embeddings.parquet").column("embedding")
    assert {len(v) for v in emb.to_pylist()} == {64}


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert declared_e2e == run.END_TO_END
    assert declared_layer == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert spec["run_seconds"] == workloads.RUN_SECONDS
    for name in [*declared_e2e, *declared_layer]:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name), name


def test_mismatch_is_dtype_strict_and_order_insensitive():
    import pandas as pd

    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from oracle_utils import _canon

    want = pd.DataFrame({"word": ["a", "b"], "cnt": [2, 1]})
    exp = workloads.expected(want, _canon)
    assert workloads.mismatch(want.iloc[::-1], exp, _canon) is None
    assert workloads.mismatch(want.astype({"cnt": "float64"}), exp, _canon) is not None
    assert workloads.mismatch(want.head(1), exp, _canon) is not None


DETERMINISTIC = (
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "registry.build_jobs",
    "sources.load_jobs",
    "exec.shuffle_write_records",
)


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "30", "--trace", "1"],
        cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True, timeout=600,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_counters_repeat_across_traced_runs(workload):
    first, second = _traced(workload, 3), _traced(workload, 3)
    assert first["correct"] and second["correct"]
    assert set(first["metrics"]) == set(run.PER_LAYER)
    for name in DETERMINISTIC:
        assert first["metrics"][name]["value"] == second["metrics"][name]["value"], name
