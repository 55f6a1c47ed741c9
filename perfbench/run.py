"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see workloads.py): ``canary_mix`` and ``corpus_wordcount``.
The engine runs in this process on local[nproc], driven by one
closed-loop client. Inputs come from perfbench/gen.py and are cached under
``.perfbench/data`` in the checkout; every other file a run writes
goes to ``.perfbench/runs/<run>`` and is removed at the end, except the
full result record in ``.perfbench/results``.

A run: generate or reuse the seed's inputs; set up the session (timed:
``setup_s``); the workload's untimed warm-up passes; the timed passes;
the output check of every execution against its DuckDB oracle.

``--trace 0`` prints the end-to-end metrics:

- ``setup_s``: engine import, ``get_spark`` and one warm-up query, in a
  process that had not loaded the engine;
- ``makespan_s``: wall time of the timed passes, from the first query
  submitted to the last result;
- ``query_p50_s``: median latency of the timed executions (build, plan
  and execution into the query's sink);
- ``corpus_mb_per_s``: corpus text megabytes per second of makespan,
  one corpus per pass. It means something on corpus_wordcount only;
  canary_mix reports it because every workload reports every
  end-to-end metric, as the table files' megabytes per second, which
  there is a constant times 1 / ``makespan_s``.

``--trace 1`` runs a one-pass load three times in one session, the
middle one traced (spans.py), and prints the per-layer metrics of the
traced load; ``trace.overhead_s`` is its makespan minus the mean of the
two untraced ones. The Spark event log is on for the whole traced
session, so its cost is not in that difference.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; failed / attempted is the fail ratio. The
exit code is 1 when an output check fails, 2 when the engine is not in
the checkout.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

import session_setup
import workloads
from spans import Tracer, merge_counters, parse_event_log, traced_loaders

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mapreduce_implementation_grpc_spark"

END_TO_END = {
    "setup_s": "s",
    "makespan_s": "s",
    "query_p50_s": "s",
    "corpus_mb_per_s": "MB/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.load_s": "s",
    "sources.load_jobs": "count",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.build_share": "ratio",
    "catalyst.plan_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.core_busy_share": "ratio",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.input_bytes": "B",
    "exec.input_records": "count",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_write_records": "count",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_per_input_record": "ratio",
    "exec.python_bytes": "B",
    "exec.task_skew": "ratio",
    "exec.gc_s": "s",
    "exec.spill_bytes": "B",
    "exec.peak_exec_mem_mb": "MB",
    "exec.failed_tasks": "count",
    "sinks.write_s": "s",
    "sinks.output_bytes": "B",
    "trace.makespan_s": "s",
    "trace.remainder_s": "s",
    "trace.overhead_s": "s",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _python(script: str, *args: str) -> dict:
    """Run one of the benchmark's scripts in a fresh process; return
    the JSON object on its last stdout line. Input generation runs this
    way so that this process has imported none of the engine's
    libraries when its set-up is timed."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, script), *args],
        check=True,
        stdout=subprocess.PIPE,
        text=True,
        timeout=170,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _git_sha() -> str | None:
    """HEAD's SHA, or None when the checkout is not a git repository."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _input_tables(path: str) -> dict:
    import pyarrow.parquet as pq

    out = {}
    for entry in sorted(os.listdir(path)):
        if not entry.endswith(".parquet"):
            continue
        full = os.path.join(path, entry)
        files = sorted(glob.glob(os.path.join(full, "*.parquet"))) if os.path.isdir(full) else [full]
        out[entry[: -len(".parquet")]] = {
            "files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
            "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
        }
    return out


def _versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle_utils.py")
    ):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    nproc = _nproc()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    try:
        return _run(args, nproc, work, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, nproc, work, run_dir) -> int:
    phases, t_mark = {}, [time.perf_counter()]

    def mark(name):
        now = time.perf_counter()
        phases[name] = now - t_mark[0]
        t_mark[0] = now

    data = os.path.join(work, "data")
    tables = _python("gen.py", "tables", str(args.seed), data)
    corpus = _python("gen.py", "corpus", str(args.seed), data) if args.workload == "corpus_wordcount" else None

    mark("gen_s")
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    spark, queries, setup = session_setup.timed_setup(tables["path"], run_dir, event_dir)
    mark("setup_s")
    workloads.check_pinned(queries)

    sc = spark.sparkContext
    load = workloads.Load(
        spark, queries, args.workload, tables["path"],
        corpus["path"] if corpus else None, os.path.join(run_dir, "out"),
    )
    # a traced run makes three loads (see the module docstring) of one
    # pass each, to stay within a run's time
    passes = 1 if args.trace else workloads.passes_for(args.workload, args.seconds)
    load.warm_up()
    mark("warm_s")
    tracer = Tracer(sc if args.trace else None)
    if args.trace:
        # the traced load sits between two untraced twins in this JVM;
        # trace.overhead_s compares it with their mean
        untraced = [load.run(passes, Tracer())]
        with traced_loaders(tracer, PACKAGE):
            makespan = load.run(passes, tracer)
        untraced.append(load.run(passes, Tracer()))
    else:
        makespan = load.run(passes, tracer)

    mark("load_s")
    peak_rss_mb = _vm_hwm_mb(sc._jvm.java.lang.ProcessHandle.current().pid()) + _vm_hwm_mb("self")
    versions = _versions(spark)
    session_setup.stop(spark)

    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from oracle_utils import _canon, run_oracle  # tests/oracle_utils.py, read-only
    from mapreduce_implementation_grpc_spark.registry import ORACLES

    workloads.check_outputs(load, ORACLES, _canon, run_oracle)
    mark("check_s")

    execs = load.executions
    failed = [e for e in execs if not e["ok"]]
    latencies = [e["latency_s"] for e in execs if e["ok"] and e["timed"]]
    input_info = _input_tables(corpus["path"] if corpus else tables["path"])
    if corpus:
        input_mb = corpus["stats"]["text_bytes"] / 1e6
    else:
        input_mb = sum(t["bytes"] for t in input_info.values()) / 1e6

    if args.trace:
        log = parse_event_log(glob.glob(os.path.join(event_dir, "*"))[0])
        metrics = _layer_metrics(tracer, log, setup, makespan, statistics.mean(untraced), nproc)
        metrics["session.peak_rss_mb"] = peak_rss_mb
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup["setup_s"],
            "makespan_s": makespan,
            "query_p50_s": statistics.median(latencies) if latencies else float("nan"),
            "corpus_mb_per_s": input_mb * passes / makespan,
        }
        units = END_TO_END

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "passes": passes,
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        **versions,
        "git_sha": _git_sha(),
        "inputs": input_info,
        "gen": {"tables": tables["stats"], "corpus": corpus["stats"] if corpus else None},
        "setup": setup,
        "phases_s": phases,
        "fail_ratio": len(failed) / len(execs),
        "failures": [{"qid": e["qid"], "error": e["error"]} for e in failed],
        "executions": [
            {k: e[k] for k in ("qid", "name", "sink", "latency_s", "ok")} for e in execs
        ],
    }
    if args.trace:
        info["stage_counts_per_job_group"] = log["group_jobs"]
    result = {
        "correct": not failed,
        "attempted": len(execs),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    record = os.path.join(work, "results", f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json")
    with open(record, "w") as f:
        json.dump({"info": info, "result": result, "spans": tracer.spans}, f, indent=1)

    for e in failed:
        print(f"FAILED {e['qid']}: {e['error']}", file=sys.stderr)
    for k, m in result["metrics"].items():
        print(f"# {k} = {m['value']:.6g} {m['unit']}")
    print(f"# fail_ratio = {info['fail_ratio']:.6g} ratio ({len(failed)}/{len(execs)})")
    print("# info " + json.dumps({k: v for k, v in info.items() if k != "executions"}))
    print(json.dumps(result))
    return 0 if not failed else 1


def _layer_metrics(tracer, log, setup, makespan, untraced, nproc) -> dict:
    self_t = tracer.self_times()
    latency = tracer.total("query")
    exec_phases = ("plan", "exec", "sink")
    c = merge_counters(log["tasks"], exec_phases)
    sink_c = merge_counters(log["tasks"], ("sink",))
    exec_s = self_t.get("exec", 0.0)
    sinks_s = self_t.get("sinks", 0.0)
    layer_sum = sum(self_t.get(layer, 0.0) for layer in ("sources", "registry", "catalyst", "exec", "sinks"))
    return {
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
        "sources.load_s": self_t.get("sources", 0.0),
        "sources.load_jobs": log["jobs"].get("load", 0),
        "registry.build_s": self_t.get("registry", 0.0),
        "registry.build_jobs": log["jobs"].get("build", 0),
        "registry.build_share": tracer.total("registry") / latency,
        "catalyst.plan_s": self_t.get("catalyst", 0.0),
        "exec.s": exec_s,
        "exec.jobs": sum(log["jobs"].get(p, 0) for p in exec_phases),
        "exec.stages": sum(log["stages"].get(p, 0) for p in exec_phases),
        "exec.tasks": c["tasks"],
        "exec.core_busy_share": c["task_run_s"] / ((exec_s + sinks_s) * nproc),
        "exec.task_run_s": c["task_run_s"],
        "exec.task_cpu_s": c["task_cpu_s"],
        "exec.input_bytes": c["input_bytes"],
        "exec.input_records": c["input_records"],
        "exec.shuffle_write_bytes": c["shuffle_write_bytes"],
        "exec.shuffle_write_records": c["shuffle_write_records"],
        "exec.shuffle_read_bytes": c["shuffle_read_bytes"],
        "exec.shuffle_per_input_record": c["shuffle_write_records"] / max(c["input_records"], 1),
        "exec.python_bytes": c["python_bytes"],
        "exec.task_skew": c["task_skew"],
        "exec.gc_s": c["gc_s"],
        "exec.spill_bytes": c["spill_bytes"],
        "exec.peak_exec_mem_mb": c["peak_exec_mem_bytes"] / 2**20,
        "exec.failed_tasks": c["failed_tasks"],
        "sinks.write_s": sinks_s,
        "sinks.output_bytes": sink_c["output_bytes"],
        "trace.makespan_s": makespan,
        "trace.remainder_s": makespan - layer_sum,
        "trace.overhead_s": makespan - untraced,
    }


if __name__ == "__main__":
    sys.exit(main())
