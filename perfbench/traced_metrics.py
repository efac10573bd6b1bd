"""Per-layer metrics of the traced passes: spans, listener events and
status-store readings reduced to one value per metric (median over the
traced passes; each value is per warm pass)."""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import Span, layer_of, self_times, union_length

OPERATORS = ("wordcount", "text", "dedup", "similarity", "multimodal", "relational", "sketch", "caching")
MB = 1e6


def _frac(flags: list[bool]) -> float:
    return sum(flags) / len(flags) if flags else 0.0


def _attribute_jobs(p: dict) -> dict[int, tuple[str, str]]:
    """job id -> (run id, phase). Jobs carry the query run's job group;
    jobs of a streaming query carry the stream's own group and are placed
    by submission time."""
    runs = [r for r in p["runs"] if r.get("ok")]
    out = {}
    for j in p["jobs"]:
        group = j["group"] or ""
        if "|" in group:
            run_id, phase = group.rsplit("|", 1)
            out[j["id"]] = (run_id, phase)
            continue
        for r in runs:
            if j["start"] is not None and r["t0"] <= j["start"] <= r["t0"] + r["s"]:
                out[j["id"]] = (r["run_id"], "build" if j["start"] < r["t0"] + r["build_s"] else "action")
                break
    return out


def _pass_layers(spans: list[Span], selft: dict[int, float], p: dict, cpus: int) -> dict[str, float]:
    t0, t1 = p["t0"], p["t1"]
    in_pass = [s for s in spans if s.end is not None and t0 <= s.start <= t1]
    layer_s: dict[str, float] = defaultdict(float)
    for s in in_pass:
        layer_s[layer_of(s.name)] += selft[s.id]
    runs = [r for r in p["runs"] if r.get("ok")]
    m: dict[str, float] = {f"operators.{op}.s": layer_s[f"operators.{op}"] for op in OPERATORS}
    m["operators.caching.persisted_mb"] = sum(r.get("persisted_bytes", 0) for r in p["runs"]) / MB
    m["sources.load_s"] = layer_s["sources"]
    m["plans.s"] = layer_s["plans"]
    m["plans.calls"] = sum(1 for s in in_pass if layer_of(s.name) == "plans")
    m["plans.scan_row_count.fallback_frac"] = _frac(
        [s.attrs["fallback"] for s in in_pass if "fallback" in s.attrs]
    )
    m["plans.spread.repartition_frac"] = _frac(
        [s.attrs["repartition"] for s in in_pass if "repartition" in s.attrs]
    )
    m["queries.build_s"] = sum(r["build_s"] for r in runs)
    m["queries.write_s"] = sum(r["action_s"] for r in runs)
    m["sinks.write_s"] = sum(r["action_s"] for r in runs if r["sink"] == "parquet") + layer_s["sinks"]

    # streaming, from the StreamingQueryListener spans
    started = {s.attrs["query"]: s.start for s in in_pass if s.name == "streaming.listener.started"}
    batches = [s for s in in_pass if s.name == "streaming.listener.batch"]
    first_batch: dict[str, float] = {}
    last_state: dict[str, Span] = {}
    for b in sorted(batches, key=lambda s: s.start):
        first_batch.setdefault(b.attrs["query"], b.start)
        last_state[b.attrs["query"]] = b
    m["streaming.queries"] = len(started)
    m["streaming.start_s"] = sum(first_batch[q] - t for q, t in started.items() if q in first_batch)
    m["streaming.batch_s"] = sum(b.end - b.start for b in batches)
    m["streaming.commit_s"] = sum(b.attrs["commit_s"] for b in batches)
    m["streaming.state_rows"] = sum(b.attrs["state_rows"] for b in last_state.values())
    m["streaming.state_mb"] = sum(b.attrs["state_bytes"] for b in last_state.values()) / MB

    # Spark jobs and stages
    jobs = p["jobs"]
    phase = _attribute_jobs(p)
    ran = [st for st in p["stages"].values() if st["ran"]]
    job_wall = union_length(
        [(max(j["start"], t0), min(j["end"], t1)) for j in jobs if j["start"] and j["end"] and j["end"] > t0 and j["start"] < t1]
    )
    exec_run = sum(st["run_ms"] for st in ran) / 1e3
    m["queries.build_jobs"] = sum(1 for v in phase.values() if v[1] == "build")
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(ran)
    m["spark.tasks"] = sum(st["tasks"] for st in ran)
    m["spark.failed_tasks"] = sum(st["failed_tasks"] for st in ran)
    m["spark.job_wall_s"] = job_wall
    m["spark.driver_gap_s"] = max(0.0, p["wall"] - job_wall)
    m["spark.exec_run_s"] = exec_run
    m["spark.exec_cpu_s"] = sum(st["cpu_ns"] for st in ran) / 1e9
    m["spark.gc_s"] = sum(st["gc_ms"] for st in ran) / 1e3
    m["spark.slot_busy_frac"] = exec_run / (job_wall * cpus) if job_wall > 0 else 0.0
    m["spark.shuffle_write_mb"] = sum(st["shuffle_write"] for st in ran) / MB
    m["spark.shuffle_read_mb"] = sum(st["shuffle_read"] for st in ran) / MB
    m["spark.spill_mb"] = sum(st["spill"] for st in ran) / MB
    m["spark.peak_exec_mem_mb"] = max((st["peak_mem"] for st in ran), default=0) / MB
    m["sql.executions"] = len(p["executions"])
    m["sql.exchanges"] = sum(e["exchanges"] for e in p["executions"])
    m["sql.broadcast_exchanges"] = sum(e["broadcast_exchanges"] for e in p["executions"])
    m["trace.spans"] = len(in_pass)
    m["trace.pass_s"] = p["wall"]
    return m


def per_layer(spans: list[Span], passes: list[dict], cpus: int) -> dict[str, float]:
    closed = [s for s in spans if s.end is not None]
    selft = self_times(closed)
    per = [_pass_layers(closed, selft, p, cpus) for p in passes]
    return {k: statistics.median(m[k] for m in per) for k in per[0]}


def per_query(passes: list[dict]) -> dict[str, dict[str, float]]:
    """queries.<query>.{s,build_s,jobs}: medians over the traced passes."""
    samples: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for p in passes:
        jobs_per_run: dict[str, int] = defaultdict(int)
        for run_id, _ in _attribute_jobs(p).values():
            jobs_per_run[run_id] += 1
        for r in p["runs"]:
            if not r.get("ok"):
                continue
            d = samples[r["name"]]
            d["s"].append(r["s"])
            d["build_s"].append(r["build_s"])
            d["jobs"].append(jobs_per_run[r["run_id"]])
    return {
        f"queries.{name}.{k}": statistics.median(v)
        for name, d in samples.items()
        for k, v in d.items()
    }
