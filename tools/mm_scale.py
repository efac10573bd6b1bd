"""sf10 media-decode decade evidence (VERDICT r11 item 3).

The mm family is ~3k LoC of Python kernels inside mapInPandas; at
100 TB, per-document Python decode is the governing cost. This records
what the sf1 full run (SCALE_R11_SF1_FULL.json: whole suite 20.7 s at
50k docs) could not see:

1. **decode throughput by op branch** — payloads staged to parquet
   once, then each decode stage timed READING from parquet (decode +
   scan only, no render cost), reporting MB/s and MB/s/core along with
   docs/s. These are the numbers a 100 TB capacity plan multiplies.
2. **sampled hash-exact** — the registry mm_suite fn + its DuckDB
   oracle on a 1-in-K sampled doc slice at sf10 characteristics (the
   lesson-29 pattern; the oracle's per-pixel unnest is quadratic-ish in
   doc count, the sample keeps it tractable).
3. **quarantine-rate stability** — the safe-decode route's per-status
   rates at 10x the corpus must match the fixture's planted rates
   exactly (rates are doc_id arithmetic, so drift = a decode change).
4. **payload-scan posture** — partition counts and bytes/partition of
   the staged decode scans, checking maxPartitionBytes splits the
   payload files into parallel work without shuffling payloads
   (SCALE.md: never shuffle payload bytes; scan-split instead).

Usage: python tools/mm_scale.py --sf-dir .scratch/sf10 \
           --out SCALE_R12_SF10_MM.json [--k 50]
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def throughput_phase(spark, sf_dir: str, cpus: int, stage_root: str) -> list[dict]:
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import multimodal as MM
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries.similarity_q import MM_BRANCHES
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table
    from tools.scale_run import session_hygiene

    docs = load_table(spark, sf_dir, "documents")
    jpeg_docs = docs.where(F.col("doc_id") % 10 == 0)
    out = []
    for name, fmt, decode, full, _slots in MM_BRANCHES:
        path = os.path.join(stage_root, name)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            t0 = time.perf_counter()
            MM.render_payloads(docs if full else jpeg_docs, fmt).write.mode("overwrite").parquet(path)
            render_sec = round(time.perf_counter() - t0, 2)
        else:
            render_sec = None  # staged by an earlier run
        staged = spark.read.parquet(path)
        stats = staged.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.length(MM.PAYLOAD_COL)).alias("bytes")
        ).first()
        n_docs, payload_bytes = int(stats.n), int(stats.bytes)
        n_parts = staged.rdd.getNumPartitions()
        t0 = time.perf_counter()
        n_out = decode(staged).count()
        sec = time.perf_counter() - t0
        mb = payload_bytes / 1e6
        out.append({
            "branch": name, "n_docs": n_docs, "n_out_rows": n_out,
            "payload_mb": round(mb, 2), "render_sec": render_sec,
            "decode_sec": round(sec, 2),
            "docs_per_sec": round(n_docs / sec, 1),
            "mb_per_sec": round(mb / sec, 2),
            "mb_per_sec_per_core": round(mb / sec / cpus, 4),
            "scan_partitions": n_parts,
            "mb_per_partition": round(mb / max(n_parts, 1), 2),
            # lesson 42: the length-sum aggregate above already read the
            # payload data pages, so the decode timing is page-cache-warm
            "touch_state": "warm (length-sum pre-scan)",
        })
        print(json.dumps(out[-1]), flush=True)
        session_hygiene(spark)
    return out


def quarantine_phase(spark, sf_dir: str) -> dict:
    """Per-status doc counts over the planted safe-decode corpus at sf10
    — the rates are doc_id arithmetic, so they must scale EXACTLY with
    the corpus (any drift is a decoder behavior change)."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import multimodal as MM
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    q = MM.decode_image_stats(MM.render_payloads(docs, "quarantine"), safe=True)
    rows = MM.quarantine_summary(q).collect()
    total = sum(r.n_docs for r in rows)
    return {
        "statuses": {r.status: {"n_docs": r.n_docs, "rate": round(r.n_docs / total, 6)}
                     for r in rows},
        "total_docs": total,
    }


def sampled_oracle_phase(spark, sf_dir: str, k: int) -> dict:
    """Registry mm_suite + its oracle on the 1-in-k sampled dir — the
    lesson-29 sampled hash-exact pattern."""
    import duckdb

    import __spark_entry__ as entry
    from tools.sf10_sampled_checks import make_sampled_dir

    sampled = make_sampled_dir(sf_dir, k)
    qs, osql = entry.queries(), entry.oracle_sql()
    t0 = time.perf_counter()
    sdf = qs["mm_suite"](spark, sampled)
    sp_rows = [tuple(r) for r in sdf.collect()]
    spark_sec = round(time.perf_counter() - t0, 2)
    scols = sorted(sdf.columns)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = os.path.join(sampled, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    t0 = time.perf_counter()
    cur = con.execute(osql["mm_suite"])
    orows = cur.fetchall()
    duck_sec = round(time.perf_counter() - t0, 2)
    ocols = sorted(d[0] for d in cur.description)

    def proj(rows, cols, allcols):
        idx = [allcols.index(c) for c in cols]
        key = lambda r: tuple((v is None, repr(v)) for v in r)  # noqa: E731
        return sorted((tuple(r[i] for i in idx) for r in rows), key=key)

    sp = proj(sp_rows, scols, sdf.columns)
    op = proj(orows, ocols, [d[0] for d in cur.description])
    return {
        "sample_mod": k, "rows": len(sp), "oracle_rows": len(op),
        "schema_match": scols == ocols, "values_match": sp == op,
        "spark_sec": spark_sec, "duckdb_sec": duck_sec,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=".scratch/sf10")
    ap.add_argument("--out", required=True)
    ap.add_argument("--k", type=int, default=50)
    ap.add_argument("--keep-staged", action="store_true")
    a = ap.parse_args()

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark import get_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 32))
    spark = get_session("mm-scale")
    stage_root = os.path.join(a.sf_dir, "_mm_staged")
    rec = {"sf_dir": a.sf_dir, "cpus": cpus}
    rec["throughput"] = throughput_phase(spark, a.sf_dir, cpus, stage_root)
    rec["quarantine"] = quarantine_phase(spark, a.sf_dir)
    print(json.dumps(rec["quarantine"]), flush=True)
    rec["sampled_oracle"] = sampled_oracle_phase(spark, a.sf_dir, a.k)
    print(json.dumps(rec["sampled_oracle"]), flush=True)
    if not a.keep_staged:
        shutil.rmtree(stage_root, ignore_errors=True)
    with open(a.out, "w") as f:
        json.dump(rec, f, indent=2)
    print(f"wrote {a.out}", flush=True)


if __name__ == "__main__":
    main()
