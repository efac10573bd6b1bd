"""One workload in one Spark session: the process ``run.py`` launches.

Closed loop, one client, one query at a time. The order of work:

1. setup: ``get_session`` on ``local[<cpus>]`` plus one trivial action;
2. cold pass: every query once with JIT and codegen still cold, each
   result fetched to the driver as Arrow (a one-shot job returns its
   answer);
3. warm passes until ``--seconds`` have elapsed and the workload's
   ``MIN_WARM_PASSES`` have run, each result written to the ``noop`` sink
   as ``bench.py`` does;
4. output checks on the cold pass's results, untimed, while what earlier
   runs left in ``--trash`` is deleted (see ``TRASH_CAP_MB``);
5. with ``--trace 1``: span wrappers, a StreamingQueryListener and job
   groups are installed, more warm passes run, and Spark's status stores
   are read after each; only per-layer numbers come from these passes.

``spark.catalog.clearCache()`` runs between queries, outside the query's
timing. The result is written as JSON to ``--out``.

Usage (normally via run.py): python3 perfbench/harness.py --workload W
    --data DIR --work DIR --oracle-cache DIR --trash DIR --seconds N --trace 0|1
    --out FILE --spawn-t EPOCH [--setup-only]

With ``--setup-only`` the process stops after step 1: ``run.py`` takes
extra set-up samples this way.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: A query run longer than this has its jobs cancelled and counts as failed.
QUERY_TIMEOUT_S = 90
#: Size of earlier runs' leftovers past which a run waits until they are
#: deleted. Below it, a run deletes only what it can during its checks:
#: on a disk mounted with ``discard`` deleting one run's Spark scratch
#: takes several seconds, longer than the checks.
TRASH_CAP_MB = 2000


class Runner:
    def __init__(self, spark, workload: str, data_dir: str, work_dir: str) -> None:
        import workloads

        self.spark, self.sc = spark, spark.sparkContext
        self.data, self.work = data_dir, work_dir
        self.queries = workloads.queries(workload, work_dir)
        self.attempted = 0
        self.errors: list[dict] = []
        # traced-run state, set by enable_tracing()
        self.rec = self.reader = None

    def run_query(self, q, collect: bool) -> dict:
        """One query run: build (driver-side construction, including any
        decision-time jobs), then the sink action. Returns timings and,
        when ``collect``, the result as an Arrow table."""
        self.attempted += 1
        run_id = f"{q.name}#{self.attempted}"
        out: dict = {"name": q.name, "run_id": run_id, "sink": q.sink}
        watchdog = threading.Timer(QUERY_TIMEOUT_S, self.sc.cancelAllJobs)
        watchdog.start()
        root = None
        if self.rec:
            self.rec.run = run_id
            root = self.rec.open(f"run.{q.name}")
        try:
            t0 = time.time()
            self._phase(run_id, "build")
            df = q.build(self.spark, self.data)
            t1 = time.time()
            self._phase(run_id, "action")
            span = self.rec.open(f"sink.{q.sink}") if self.rec else None
            try:
                if q.sink == "parquet":
                    q.write(df)
                elif collect:
                    out["output"] = df.toArrow()
                else:
                    df.write.format("noop").mode("overwrite").save()
            finally:
                if span:
                    self.rec.close(span)
            t2 = time.time()
            out.update(t0=t0, build_s=t1 - t0, action_s=t2 - t1, s=t2 - t0, ok=True)
        except Exception as e:  # a failed query run is counted, the loop goes on
            out.update(ok=False, s=None)
            self.errors.append({"query": q.name, "error": f"{type(e).__name__}: {e}"[:2000]})
            traceback.print_exc(file=sys.stderr)
        finally:
            watchdog.cancel()
            if root:
                self.rec.close(root)
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.rec.run = None
        if self.reader is not None:
            out["persisted_bytes"] = self.reader.persisted_bytes()
        self.spark.catalog.clearCache()
        return out

    def _phase(self, run_id: str, phase: str) -> None:
        if self.rec is not None:
            self.sc.setJobGroup(f"{run_id}|{phase}", f"{run_id} {phase}")

    def run_pass(self, collect: bool = False) -> dict:
        from proctree import tree_cpu_s

        cpu0 = tree_cpu_s()
        t0 = time.time()
        runs = [self.run_query(q, collect) for q in self.queries]
        t1 = time.time()
        return {"t0": t0, "t1": t1, "wall": t1 - t0, "cpu": tree_cpu_s() - cpu0, "runs": runs}

    def enable_tracing(self, extra_modules) -> None:
        import bench
        from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import QUERIES

        import spans

        self.rec = spans.Recorder()
        self.tracer = spans.Tracer(self.rec, {"queries": QUERIES, "bench": bench.BENCH_IMPL})
        self.tracer.install(extra_modules)
        self.listener = spans.stream_listener(self.rec)
        self.spark.streams.addListener(self.listener)
        self.reader = spans.StatusReader(self.spark)

    def disable_tracing(self) -> None:
        self.spark.streams.removeListener(self.listener)
        self.tracer.uninstall()


def traced_pass(runner: Runner) -> dict:
    """One warm pass under tracing, then its status-store readings."""
    reader = runner.reader
    reader.drain()
    last_job, sql_offset = reader.max_job_id(), reader.sql_count()
    p = runner.run_pass()
    t_read = time.time()
    reader.drain()
    jobs = reader.jobs_after(last_job)
    stage_ids = sorted({s for j in jobs for s in j["stages"]})
    stages = {sid: reader.stage(sid) for sid in stage_ids}
    execs = reader.executions_from(sql_offset)
    runner.rec.add("statusstore.read", t_read, time.time(), jobs=len(jobs), stages=len(stage_ids), executions=len(execs))
    p.update(jobs=jobs, stages=stages, executions=execs)
    return p


def tree_mb(root: str) -> float:
    """Size of the files under ``root`` in MB."""
    size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            try:
                size += os.lstat(os.path.join(dirpath, n)).st_size
            except OSError:
                pass
    return size / 1e6


def parquet_stats(paths: list[str]) -> dict:
    """Files, MB and rows of the parquet files under ``paths``."""
    import pyarrow.parquet as pq

    files = size = rows = 0
    for path in paths:
        for dirpath, _, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
                    rows += pq.ParquetFile(os.path.join(dirpath, n)).metadata.num_rows
    return {"files": files, "mb": size / 1e6, "rows": rows}


def open_session(work: str):
    """``get_session`` plus one trivial action; returns the session and
    its start/warm times."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark import get_session

    t0 = time.time()
    spark = get_session(
        "perfbench",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    t1 = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()
    return spark, t1 - t0, time.time() - t1


def run_workload(spark, args, cpus: int) -> dict:
    import bench  # noqa: F401  (BENCH_IMPL: bench.py's timed query shapes)
    import workloads

    runner = Runner(spark, args.workload, args.data, args.work)
    cold = runner.run_pass(collect=True)
    warm = [runner.run_pass()]
    deadline = warm[0]["t0"] + args.seconds
    while time.time() < deadline or len(warm) < workloads.MIN_WARM_PASSES[args.workload]:
        warm.append(runner.run_pass())

    # Leftovers of earlier runs are deleted while the untimed checks run.
    # What is left when the checks end stays for a later run, unless the
    # trash has grown past TRASH_CAP_MB (or tracing follows, which the
    # deletion would slow).
    wait_for_cleanup = args.trace or tree_mb(args.trash) > TRASH_CAP_MB
    cleanup = threading.Thread(target=shutil.rmtree, args=(args.trash, True), daemon=True)
    cleanup.start()
    checker = workloads.Checker(spark, args.data, args.work, args.oracle_cache, cpus)
    outputs = {r["name"]: r["output"] for r in cold["runs"] if "output" in r}
    ok = {r["name"] for r in cold["runs"] if r["ok"]}
    checked: dict[str, float] = {}
    unchecked: list[str] = []
    try:
        for r in cold["runs"]:
            if not r["ok"]:
                continue  # already counted as failed
            if workloads.Checker.READS.get(r["name"], r["name"]) not in ok:
                unchecked.append(r["name"])  # the query it compares with failed
                continue
            t0 = time.time()
            try:
                checker.check(r["name"], outputs)
                checked[r["name"]] = time.time() - t0
            except workloads.CheckFailed as e:
                runner.errors.append({"query": r["name"], "error": f"check: {e}"[:2000]})
            except Exception as e:  # a check that cannot run counts as failed; the run goes on
                runner.errors.append({"query": r["name"], "error": f"check raised {type(e).__name__}: {e}"[:2000]})
                traceback.print_exc(file=sys.stderr)
    finally:
        checker.close()
        if wait_for_cleanup:
            cleanup.join()
    result = {
        "first_pass_s": cold["wall"],
        "passes": [{k: p[k] for k in ("wall", "cpu")} for p in warm],
        "query_s": {
            q.name: [r["s"] for p in warm for r in p["runs"] if r["name"] == q.name and r["ok"]]
            for q in runner.queries
        },
        "checked": checked,
        "unchecked": unchecked,
    }
    if args.trace:
        result.update(trace(runner, args, warm, cpus))
    result.update(attempted=runner.attempted, errors=runner.errors)
    return result


def trace(runner: Runner, args, warm: list[dict], cpus: int) -> dict:
    import traced_metrics
    import workloads
    from proctree import tree_peak_rss_mb

    runner.enable_tracing(extra_modules=(sys.modules["bench"],))
    traced = [traced_pass(runner)]
    deadline = traced[0]["t0"] + args.seconds
    while time.time() < deadline or len(traced) < workloads.MIN_WARM_PASSES[args.workload]:
        traced.append(traced_pass(runner))
    runner.disable_tracing()
    layers = traced_metrics.per_layer(runner.rec.spans, traced, cpus)
    layers["trace.overhead_s"] = statistics.median(p["wall"] for p in traced) - statistics.median(
        p["wall"] for p in warm
    )
    written = parquet_stats([q.out_dir for q in runner.queries if q.out_dir])
    inputs = parquet_stats([args.data])
    layers.update(
        {
            "sinks.written_mb": written["mb"],
            "sinks.files": written["files"],
            "sources.input_mb": inputs["mb"],
            "sources.input_rows": inputs["rows"],
            "process.peak_rss_mb": tree_peak_rss_mb(),
        }
    )
    spans_path = os.path.join(args.work, f"spans-{args.workload}.json")
    with open(spans_path, "w") as f:
        json.dump(runner.rec.to_json(), f)
    return {"per_layer": layers, "per_query": traced_metrics.per_query(traced), "spans_file": spans_path}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--oracle-cache", required=True, help="directory of cached oracle answers for these inputs")
    ap.add_argument("--trash", required=True, help="directory of earlier runs' leftovers to delete")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spawn-t", type=float, required=True, help="epoch time the launcher started this process")
    ap.add_argument("--setup-only", action="store_true", help="stop after set-up: one more set-up sample")
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark, start_s, warm_s = open_session(args.work)
    result: dict = {"setup_s": time.time() - args.spawn_t, "session.start_s": start_s, "session.warm_s": warm_s}
    code = 0
    try:
        if not args.setup_only:
            result.update(run_workload(spark, args, cpus))
    except Exception:
        traceback.print_exc()
        code = 1
    finally:
        with open(args.out, "w") as f:
            json.dump(result, f)
        shutdown()
    # The JVM is gone: skip interpreter teardown, whose py4j finalizers
    # would try (and fail, slowly) to reach it.
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)


def shutdown() -> None:
    """Kill the JVM and wait for it to exit. Everything the run produced
    is written by then; a graceful stop would only delete Spark's scratch
    directories, which the launcher clears before each run, and it costs
    seconds per process."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait(timeout=60)


if __name__ == "__main__":
    main()
