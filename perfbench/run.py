"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {wordcount,curation_stream}
        [--seed 42] [--seconds 5] [--trace 0|1]

Run from the repository root. Steps:

1. generate (or reuse, cached by seed and parameters) the workload's
   inputs under ``.scratch/perfbench/data``; generation time is reported
   on its own and is in no metric; oracle answers for the output checks
   are cached beside them under ``.scratch/perfbench/oracle``;
2. run ``harness.py --setup-only`` ``EXTRA_SETUPS`` times, one process
   after the other, for more set-up samples; then ``harness.py`` for the
   workload in its own process on ``local[<cpus>]`` with
   ``SPARK_GRAFT_CPUS=<cpus>``, cpus being the CPUs this process may run
   on;
3. print every metric by name and unit, then, as the last line, the
   result: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics (set-up as the median of
the set-up samples, cold pass, warm pass, per-query geometric mean, CPU
per pass); ``--trace 1`` the per-layer
metrics of a separate traced phase, plus per-query numbers on the line
before the result. The exit code is non-zero, and no result is printed,
when the program under test is missing or the run cannot finish.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time

import gen
from workloads import INPUT_KIND

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark"
WORKLOADS = ("wordcount", "curation_stream")

#: Whole-run budget; the workload process is killed past it.
RUN_BUDGET_S = 170
#: Set-ups per run: this many extra processes only open a session, beside
#: the workload process's own; ``setup_s`` is the median of all of them.
EXTRA_SETUPS = 2
#: Cached input sets kept per input kind (a wordcount set is ~40 MB, and
#: deleting one costs ~3.5 s of run time, so a dozen seeds' sets stay) and
#: cached oracle answer sets kept in all (a few MB each; keyed by the
#: inputs' content hash, so they outlive a pruned input set).
KEEP_INPUTS = 12
KEEP_ORACLES = 40

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "query_s.gmean": "s",
    "cpu_s": "s",
}

_OPERATOR_LAYERS = ("wordcount", "text", "dedup", "similarity", "multimodal", "relational", "sketch", "caching")
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "sources.load_s": "s",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.write_s": "s",
    "plans.s": "s",
    "plans.calls": "count",
    "plans.scan_row_count.fallback_frac": "fraction",
    "plans.spread.repartition_frac": "fraction",
    **{f"operators.{op}.s": "s" for op in _OPERATOR_LAYERS},
    "operators.caching.persisted_mb": "MB",
    "streaming.queries": "count",
    "streaming.start_s": "s",
    "streaming.batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "sinks.write_s": "s",
    "sinks.written_mb": "MB",
    "sinks.files": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_wall_s": "s",
    "spark.driver_gap_s": "s",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.slot_busy_frac": "fraction",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.peak_exec_mem_mb": "MB",
    "spark.failed_tasks": "count",
    "sql.executions": "count",
    "sql.exchanges": "count",
    "sql.broadcast_exchanges": "count",
    "process.peak_rss_mb": "MB",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


class RunError(Exception):
    pass


def _pgid_members(pgid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            if int(raw[raw.rindex(")") + 2 :].split()[2]) == pgid:
                out.append(int(entry))
    return out


def _stop_group(pgid: int, timeout_s: float = 20) -> None:
    """Kill what is left of a process group and wait until it is gone."""
    deadline = time.time() + timeout_s
    while _pgid_members(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            break
        if time.time() > deadline:
            raise RunError(f"processes of group {pgid} did not exit")
        time.sleep(0.1)


def _spawn(args: list[str], env: dict, log_path: str, deadline: float) -> dict:
    """Run ``harness.py`` with ``args`` in its own process group and return
    the JSON it writes; on timeout or failure the group is killed."""
    out_path = log_path[: -len(".log")] + ".json"
    if os.path.exists(out_path):
        os.remove(out_path)
    cmd = [sys.executable, os.path.join(HERE, "harness.py"), *args, "--out", out_path]
    with open(log_path, "w") as log:
        cmd += ["--spawn-t", repr(time.time())]
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=log, cwd=ROOT, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            _stop_group(proc.pid)
    if code is None:
        raise RunError(f"{os.path.basename(log_path)}: out of time")
    if code != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RunError(f"{os.path.basename(log_path)}: exit {code}\n{tail}")
    with open(out_path) as f:
        return json.load(f)


def _discard(path: str, trash: str) -> None:
    """Move ``path`` into ``trash``, which the workload process deletes
    during its untimed output checks: on a disk mounted with ``discard``
    freeing written-back files costs ~35 ms each plus ~90 ms per MB,
    5-10 s for the Spark scratch of one run."""
    if os.path.exists(path):
        os.makedirs(trash, exist_ok=True)
        os.rename(path, os.path.join(trash, f"{time.time_ns()}-{os.path.basename(path)}"))


def _prune(root: str, prefix: str, keep: int, current: str, trash: str) -> None:
    """Keep ``current`` and the newest ``keep - 1`` other entries of
    ``root`` whose names start with ``prefix``."""
    if not os.path.isdir(root):
        return
    others = [d for d in os.listdir(root) if d.startswith(prefix) and d != os.path.basename(current)]
    others.sort(key=lambda d: os.path.getmtime(os.path.join(root, d)), reverse=True)
    for d in others[keep - 1 :]:
        _discard(os.path.join(root, d), trash)


def _gmean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def end_to_end(res: dict) -> dict[str, float]:
    medians = [statistics.median(v) for v in res["query_s"].values() if v]
    return {
        "setup_s": statistics.median(res["setup_samples"]),
        "first_pass_s": res["first_pass_s"],
        "pass_s": statistics.median(p["wall"] for p in res["passes"]),
        "query_s.gmean": _gmean(medians),
        "cpu_s": statistics.median(p["cpu"] for p in res["passes"]),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    deadline = t_start + RUN_BUDGET_S

    missing = [p for p in (PKG, "bench.py", os.path.join("tests", "oracle_harness.py")) if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program under test not found: {', '.join(missing)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".scratch", "perfbench")
    trash = os.path.join(work, "trash")
    for sub in ("tmp", "spark-local", "wc_layout"):  # scratch and output of earlier runs
        _discard(os.path.join(work, sub), trash)
    for sub in ("data", "tmp", "spark-local", "logs"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    }

    kind = INPUT_KIND[args.workload]
    data_dir, gen_info = gen.ensure(kind, args.seed, os.path.join(work, "data"))
    oracle_dir = os.path.join(work, "oracle", gen_info["content_hash"][:20])
    _prune(os.path.join(work, "data"), f"{kind}-s", KEEP_INPUTS, data_dir, trash)
    _prune(os.path.join(work, "oracle"), "", KEEP_ORACLES, oracle_dir, trash)
    # write freshly generated inputs back now, not during the timed passes
    os.sync()
    logs = os.path.join(work, "logs")
    harness_args = [
        "--workload", args.workload, "--data", data_dir, "--work", work, "--oracle-cache", oracle_dir,
        "--trash", trash,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    try:
        setups = [
            _spawn([*harness_args, "--setup-only"], env, os.path.join(logs, f"setup-{i}.log"), deadline)["setup_s"]
            for i in range(EXTRA_SETUPS)
        ]
        res = _spawn(harness_args, env, os.path.join(logs, f"{args.workload}.log"), deadline)
        res["setup_samples"] = [*setups, res["setup_s"]]
    except RunError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1

    if args.trace:
        layers = {**res["per_layer"], "session.start_s": res["session.start_s"], "session.warm_s": res["session.warm_s"]}
        metrics = {name: layers[name] for name in PER_LAYER}
        units = PER_LAYER
    else:
        metrics = end_to_end(res)
        units = END_TO_END
    failed = len(res["errors"])
    for err in res["errors"]:
        print(f"FAILED {err['query']}: {err['error']}")
    print(
        f"workload={args.workload} seed={args.seed} cpus={cpus} inputs={gen_info['content_hash'][:16]} "
        f"gen_s={gen_info['gen_s']:.3f} cached={gen_info['cached']} setups={','.join(f'{v:.3f}' for v in res['setup_samples'])} "
        f"warm_passes={len(res['passes'])} "
        f"checked={len(res['checked'])} unchecked={','.join(res['unchecked']) or '-'} fail_frac={failed / res['attempted']:.4f} ({failed}/{res['attempted']})"
    )
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    if not args.trace:
        # the sixth end-to-end metric; the result line carries it as failed/attempted
        print(f"fail_frac {failed / res['attempted']:.6g} fraction")
    if args.trace:
        print(json.dumps({"per_query": res["per_query"], "spans_file": os.path.relpath(res["spans_file"], ROOT)}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": res["attempted"],
                "failed": failed,
                "metrics": {name: {"value": value, "unit": units[name]} for name, value in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
