"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in ``mapreduce_implementation_grpc_spark``;
this module is a thin adapter over its registry.

Eager-query note: most queries build their DataFrame cheaply (a
wall-time budget enforced by
tests/test_contract.py::test_lazy_queries_build_cheaply), but cheap
is not jobless. Loading a table runs no job (sources/catalog.py reads
the schema from the parquet footer), yet a query that pins a shared
materialization with ``materialize()`` runs its upstream stages at
build time under AQE: ``purchase_pagerank`` fires 6 build jobs. The
iterative algorithms -- ``dedup_clusters``, ``dedup_clusters_jaccard``,
``curate_documents``, ``leakage_safe_split``, ``kmeans_cells``,
``ann_ivf_kmeans``, ``ann_recall_ivf_kmeans``,
``ann_clustered_ivf_kmeans_recall``, ``cluster_topics``, ``pq_codes``,
``pq_search``, ``ann_ivfpq``, ``semantic_dedup``,
``ann_ivfpq_residual``, ``bpe_merges``, ``bpe_encode``,
``bpe_compression_by_lang``, ``pack_sequences_bpe``,
``cosupply_kcore`` --
run their training/propagation rounds at DataFrame-CONSTRUCTION time
(inherent to iteration: each round's result feeds the next plan);
the returned DataFrame is then cheap to act on.

Sketch note: ``approx_distinct_users`` (HLL) and
``events_quantiles_approx`` (Greenwald-Khanna) are true
randomized/approximate sketches with no SQL-exact twin. They stay in
the registry, bench, and pytest (accuracy bounds are pytest-verified
against exact counterparts), but are EXCLUDED from ``queries()`` so
they never occupy driver correctness slots as eternal rows-only
entries (VERDICT r4 "What's wrong" #3): ``queries()`` holds exactly
the registry queries that have an oracle (registered with
``oracle=None``, these two have none). The deterministic sketch
family (Bloom/CMS/portable-HLL/KMV) IS oracle-checked and stays.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mapreduce_implementation_grpc_spark import registry  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"

# Queries whose RESULTS or PLAN changed materially this round: their
# historical driver-green rows describe the old behavior, so they
# must outrank even long-stale unchanged queries in the next
# rotation. Maintained per round by the builder; emptied once the
# next CORRECTNESS artifact contains them.
# r10: no existing query's results changed (the round adds NEW
# clustered-corpus/IVF-recall rows, which outrank everything anyway
# at pass count 0); the r9 plane-change cohort all went green in
# CORRECTNESS_r09, so the override empties per its contract.
_RESULTS_CHANGED_THIS_ROUND: frozenset[str] = frozenset()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference's end-to-end job (word count +
    deterministic top-N) over documents at sf0.001."""
    return registry.QUERIES["wordcount_topn"](spark, SMOKE_SF_DIR)


def _verification_priority() -> list[str]:
    """Order registry queries least-driver-verified first.

    The driver's per-round CORRECTNESS sweep samples a prefix of
    ``queries()``; ordering by (pass count, last-green round,
    registry order) -- all ascending -- rotates never-checked and
    previously-failed queries in first, and among equal pass counts
    prefers the STALEST green (VERDICT r8 #5: 56 queries' last green
    predated the bit-exact canon; pass-count alone let equally-passed
    newer rows shadow them).
    """
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    passes: dict[str, int] = {name: 0 for name in registry.QUERIES}
    last_green: dict[str, int] = {name: 0 for name in registry.QUERIES}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if m is None:  # stray non-numeric artifact matching the glob
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                report = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in report.items():
            if name not in passes or not isinstance(row, dict):
                continue
            ok = (
                row.get("err") is None
                and row.get("rows_match")
                and row.get("hash_match") is not False
            )
            if ok:
                passes[name] += 1
                last_green[name] = max(last_green[name], rnd)
    for name in _RESULTS_CHANGED_THIS_ROUND:
        if name in passes:
            passes[name] = -1  # outrank even never-checked queries
    order = {name: i for i, name in enumerate(registry.QUERIES)}
    return sorted(
        registry.QUERIES, key=lambda n: (passes[n], last_green[n], order[n])
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        name: registry.QUERIES[name]
        for name in _verification_priority()
        if name in registry.ORACLES
    }


def oracle_sql() -> dict[str, str]:
    names = [n for n in _verification_priority() if n in registry.ORACLES]
    return {name: registry.ORACLES[name] for name in names}
