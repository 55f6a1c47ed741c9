"""Workloads: pinned query lists, the closed-loop load, and the output
check against each query's DuckDB oracle.

One client submits the next query only after the previous result is
complete. A query execution is: build the DataFrame through the
registry, (traced runs only) force its physical plan, then run it into
its sink. A run makes its untimed warm-up passes, then its timed
passes; the output check of every execution runs after the load.
"""

from __future__ import annotations

import glob
import os
import time
import traceback

from spans import Tracer

# Pinned here, not read from registry.CANARY_QUERIES, which is
# append-only and would change the workload silently. A subset of the
# 26 canaries, one per plan family (scan-agg, multi-join, window,
# percentile, dedup, LSH with build-time jobs, graph iteration): a
# cold and two warm passes over all 26 take ~100 s on a 4-core host,
# more than one run's share of the time budget.
CANARY_MIX = [
    "pricing_summary",
    "revenue_by_nation",
    "market_share",
    "events_sessionize",
    "events_quantiles_binned",
    "dedup_exact",
    "ann_lsh",
    "purchase_pagerank",
]

# (query, sink) per corpus pass; the sink names a function in
# sources/sinks.py, or "collect" for a result pulled into this process
CORPUS_JOBS = [
    ("wordcount_topn", "collect"),
    ("wordcount_salted", "write_word_counts_text"),
    ("dedup_exact", "write_parquet"),
]

# The benchmark's run length (BENCHMARK.json "run_seconds").
RUN_SECONDS = 30

# warmup_passes: untimed passes before the timed ones. The first pass
# in a JVM is cold (codegen, class loading), and the JIT keeps
# speeding the canaries up for about four passes: on a 4-core host,
# ~17 s cold, then 9.8, 9.0, 8.8 and 7.4 s. The host's speed drifts,
# and a slower host also slows the JIT, so a load measured early in
# that curve spreads more. Over the same 10 runs there, a canary load
# read an IQR/median of 0.32 as one timed pass after two warm-up
# passes, and 0.24 as two timed passes after one.
# timed_passes: passes in the timed load of a RUN_SECONDS run. A run
# costs ~20 s of set-up and a cold pass before its load; to keep a
# set of 48 runs under an hour, the corpus load is one pass.
WORKLOADS = {
    "canary_mix": {"queries": CANARY_MIX, "warmup_passes": 1, "timed_passes": 3},
    "corpus_wordcount": {
        "queries": [q for q, _ in CORPUS_JOBS], "warmup_passes": 1, "timed_passes": 1,
    },
}


def check_pinned(queries: dict) -> None:
    """Fail loudly if a pinned query left the registry."""
    for wl in WORKLOADS.values():
        missing = [q for q in wl["queries"] if q not in queries]
        if missing:
            raise SystemExit(f"pinned queries missing from registry.QUERIES: {missing}")


def passes_for(workload: str, seconds: float) -> int:
    """The timed load is fixed work: the workload's passes, scaled by
    the requested seconds against RUN_SECONDS (at least one)."""
    return max(1, round(WORKLOADS[workload]["timed_passes"] * seconds / RUN_SECONDS))


class Load:
    """Runs one workload's passes and keeps every execution record."""

    def __init__(self, spark, queries, workload, tables_dir, corpus_dir, out_dir):
        self.spark = spark
        self.queries = queries
        self.workload = workload
        self.tables_dir = tables_dir
        self.corpus_dir = corpus_dir
        self.out_dir = out_dir
        self.executions: list[dict] = []
        self._passes = 0

    def warm_up(self) -> None:
        """The workload's untraced, untimed passes, so the timed passes
        measure a JVM whose JIT and caches have seen every query."""
        for w in range(WORKLOADS[self.workload]["warmup_passes"]):
            self._pass(f"warm{w}", Tracer())

    def run(self, passes: int, tracer: Tracer) -> float:
        """Run timed passes; return their makespan in seconds."""
        t0 = time.perf_counter()
        for _ in range(passes):
            self._pass(f"p{self._passes}", tracer)
            self._passes += 1
        return time.perf_counter() - t0

    def _pass(self, label: str, tracer: Tracer) -> None:
        if self.workload == "canary_mix":
            for name in CANARY_MIX:
                self._execute(tracer, label, name, self.tables_dir, "collect")
        else:
            for name, sink in CORPUS_JOBS:
                self._execute(tracer, label, name, self.corpus_dir, sink)

    def _execute(self, tr: Tracer, label: str, name: str, data_dir: str, sink: str) -> None:
        from mapreduce_implementation_grpc_spark.sources import sinks

        qid = f"{label}.{name}"
        rec = {"qid": qid, "name": name, "timed": not label.startswith("warm"), "sink": sink,
               "error": None}
        t0 = time.perf_counter()
        try:
            with tr.query(qid, name):
                with tr.span("registry", name):
                    df = self.queries[name](self.spark, data_dir)
                if tr.enabled:
                    with tr.span("catalyst", name):
                        df._jdf.queryExecution().executedPlan()
                if sink == "collect":
                    with tr.span("exec", name):
                        rec["result"] = df.toPandas()
                else:
                    path = os.path.join(self.out_dir, qid)
                    with tr.span("sinks", sink):
                        getattr(sinks, sink)(df, path)
                    rec["path"] = path
        except Exception:  # a failing query counts toward fail_ratio, never aborts the run
            rec["error"] = traceback.format_exc(limit=3)
        rec["latency_s"] = time.perf_counter() - t0
        self.executions.append(rec)


# --- output check ---------------------------------------------------------


def _corpus_oracle(sql: str, corpus_dir: str):
    """The oracle over the corpus: its ``documents`` view reads the
    multi-file glob, which tests/oracle_utils.run_oracle does not."""
    import duckdb

    con = duckdb.connect()
    try:
        glob_ = os.path.join(corpus_dir, "documents.parquet", "*.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob_}')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _read_sink(rec: dict):
    import pandas as pd
    import pyarrow.parquet as pq

    if rec["sink"] == "write_parquet":
        return pq.read_table(rec["path"]).to_pandas()
    words, counts = [], []
    for part in sorted(glob.glob(os.path.join(rec["path"], "part-*"))):
        with open(part) as f:
            for line in f:
                w, c = line.rstrip("\n").split(" ")
                words.append(w)
                counts.append(int(c))
    return pd.DataFrame({"word": words, "cnt": pd.array(counts, dtype="int64")})


def expected(want, canon) -> tuple:
    """An oracle result in the form ``mismatch`` compares against."""
    return sorted(want.columns), len(want), canon(want)


def mismatch(got, exp: tuple, canon) -> str | None:
    """Order-insensitive, dtype-strict comparison; None when equal."""
    columns, n_rows, rows = exp
    if sorted(got.columns) != columns:
        return f"columns {sorted(got.columns)} != oracle {columns}"
    if len(got) != n_rows:
        return f"{len(got)} rows != oracle {n_rows}"
    bad = [(a, b) for a, b in zip(canon(got), rows) if a != b]
    return f"{len(bad)} rows differ, first: {bad[0]}" if bad else None


def check_outputs(load: Load, oracles: dict, canon, run_oracle) -> None:
    """Compare each execution's result with its oracle, run over the
    same input files; record the verdict on the execution."""
    wanted: dict[str, tuple] = {}
    for rec in load.executions:
        if rec["error"] is None:
            try:
                if rec["name"] not in wanted:
                    sql = oracles[rec["name"]]
                    if load.workload == "canary_mix":
                        want = run_oracle(sql, load.tables_dir)
                    else:
                        want = _corpus_oracle(sql, load.corpus_dir)
                    wanted[rec["name"]] = expected(want, canon)
                got = rec.pop("result") if "result" in rec else _read_sink(rec)
                rec["error"] = mismatch(got, wanted[rec["name"]], canon)
            except Exception:  # a broken check fails the execution, never the run
                rec["error"] = "check failed: " + traceback.format_exc(limit=3)
        rec.pop("result", None)
        rec["ok"] = rec["error"] is None
