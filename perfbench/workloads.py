"""The two workloads: which queries each runs, how a query's result is
produced, and how its output is checked.

Timed query shapes come from ``bench.BENCH_IMPL`` where it has an entry,
else from the registry, looked up at call time (the traced run swaps the
registry entries for span wrappers). A warm run writes the result to the
``noop`` sink as ``bench.py`` does; the cold run fetches it to the driver
as Arrow (``DataFrame.toArrow``), and those tables are what the checks
compare, after every pass.
"""

from __future__ import annotations

import hashlib
import os
import re
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: Input kind (see gen.py) each workload reads.
INPUT_KIND = {"wordcount": "wordcount", "curation_stream": "curation_stream"}

QUERY_NAMES = {
    "wordcount": ["wc_top_k", "wc_partitioned_layout", "wc_zipf_plain", "wc_zipf_salted", "wc_layout_write"],
    "curation_stream": [
        "pipeline_corpus_curation",
        "mm_suite",
        "dedup_cosine_corpus",
        "rel_q5_region_revenue",
        "rel_sketch_suite",
        "stream_window_suite",
    ],
}

#: Warm passes each run makes at least, beside ``--seconds``. A wordcount
#: pass takes ~5 s and a curation_stream pass ~10 s on 4 cores; more
#: passes do not fit the run budget.
MIN_WARM_PASSES = {"wordcount": 2, "curation_stream": 1}


class CheckFailed(Exception):
    pass


@dataclass
class Collected:
    """A query's collected output, shaped like the DataFrame surface
    ``tests/oracle_harness.compare_rows`` reads (``columns``, ``collect``)."""

    columns: list[str]
    rows: list

    def collect(self) -> list:
        return self.rows


@dataclass
class Query:
    name: str
    build: Callable  # (spark, data_dir) -> DataFrame: driver-side construction
    sink: str  # "noop" (result discarded) or "parquet" (a real write)
    write: Callable | None = None  # (df) -> None, for sink == "parquet"
    out_dir: str | None = None  # where the parquet sink writes


def _impl(name: str):
    import bench
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import QUERIES

    return bench.BENCH_IMPL[name] if name in bench.BENCH_IMPL else QUERIES[name]


def _registered(name: str) -> Query:
    return Query(name, lambda spark, data: _impl(name)(spark, data), "noop")


def layout_dir(work_dir: str) -> str:
    return os.path.join(work_dir, "wc_layout")


def _layout_write(work_dir: str) -> Query:
    """O6 counts (the salted aggregate wc_partitioned_layout uses) written
    as the O7 per-initial sorted parquet layout: the one real sink."""
    # module attributes are looked up per call, so a traced run sees its wrappers
    def build(spark, data):
        from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark import sources
        from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import wordcount as wc
        from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans import skew

        return skew.salted_word_count(wc.tokenize(sources.load_table(spark, data, "documents")))

    def write(counts):
        from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import wordcount as wc

        wc.write_partitioned_sorted(counts, layout_dir(work_dir))

    return Query("wc_layout_write", build, "parquet", write, layout_dir(work_dir))


def queries(workload: str, work_dir: str) -> list[Query]:
    return [
        _layout_write(work_dir) if name == "wc_layout_write" else _registered(name)
        for name in QUERY_NAMES[workload]
    ]


# --------------------------------------------------------------------------
# Output checks
# --------------------------------------------------------------------------


def duckdb_conn(data_dir: str, threads: int):
    """DuckDB views over every table in ``data_dir``: a single parquet file
    or a directory of part files."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET memory_limit = '2GB'")
    for entry in sorted(os.listdir(data_dir)):
        if not entry.endswith(".parquet"):
            continue
        path = os.path.join(data_dir, entry)
        glob = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {entry[: -len('.parquet')]} AS SELECT * FROM '{glob}'")
    return con


_CTE = re.compile(r"\b(\w+) AS \(")


def materialize_ctes(sql: str) -> str:
    """Mark every CTE of a ``WITH RECURSIVE`` query MATERIALIZED. DuckDB
    otherwise inlines them and re-evaluates the CTEs the recursive step
    reads on every iteration (the curation-pipeline oracle: ~40 s inlined,
    ~5 s materialized, identical rows). Evaluation strategy only."""
    if not sql.lstrip().upper().startswith("WITH RECURSIVE"):
        return sql
    return _CTE.sub(lambda m: f"{m.group(1)} AS MATERIALIZED (", sql)


def spark_arrow_rows(table: pa.Table) -> Collected:
    """Rows of a ``DataFrame.toArrow()`` result with the Python types
    ``DataFrame.collect()`` gives: session-zone timestamps become naive
    (the session zone is UTC, as DuckDB's TIMESTAMP is)."""
    table = _naive_timestamps(table)
    return Collected(list(table.column_names), [tuple(r.values()) for r in table.to_pylist()])


def _naive_timestamps(table: pa.Table) -> pa.Table:
    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            table = table.set_column(i, f.name, table.column(i).cast(pa.timestamp(f.type.unit)))
    return table


#: Above this many rows a table of integer and string columns compares as
#: a sorted Arrow table: compare_rows canonicalizes and sorts rows in
#: Python, ~6 s per million rows, and three wordcount checks compare
#: ~200,000 rows each.
BIG_TABLE_ROWS = 100_000


def _sorted_arrow(t: pa.Table, cols: list[str]) -> pa.Table | None:
    """``t`` with columns ``cols``, integers as int64 and strings as
    string (the values compare_rows sees), sorted by every column; None if
    a column has another type."""
    t = t.select(cols)
    for i, f in enumerate(t.schema):
        if pa.types.is_integer(f.type):
            t = t.set_column(i, f.name, t.column(i).cast(pa.int64()))
        elif pa.types.is_string(f.type) or pa.types.is_large_string(f.type):
            t = t.set_column(i, f.name, t.column(i).cast(pa.string()))
        else:
            return None
    return t.sort_by([(c, "ascending") for c in cols]).combine_chunks()


def compare_tables(name: str, got: pa.Table, want: pa.Table) -> None:
    """Order-insensitive typed comparison of a Spark result with an oracle
    result, columns matched by sorted name, through
    ``tests/oracle_harness.compare_rows``; large tables of integer and
    string columns as sorted Arrow tables (see ``BIG_TABLE_ROWS``)."""
    from tests.oracle_harness import compare_rows

    cols = sorted(got.column_names)
    if max(got.num_rows, want.num_rows) > BIG_TABLE_ROWS and cols == sorted(want.column_names):
        a, b = _sorted_arrow(got, cols), _sorted_arrow(want, cols)
        if a is not None and b is not None:
            if a.num_rows != b.num_rows:
                raise CheckFailed(f"{name}: row count spark={a.num_rows} oracle={b.num_rows}")
            if not all(a.column(c).equals(b.column(c)) for c in cols):
                i, ra, rb = next((i, ra, rb) for i, (ra, rb) in enumerate(zip(a.to_pylist(), b.to_pylist())) if ra != rb)
                raise CheckFailed(f"{name}: first differing row {i} (of {a.num_rows}, sorted):\n  spark : {ra}\n  oracle: {rb}")
            return
    try:
        compare_rows(spark_arrow_rows(got), _Cursor(want), name)
    except AssertionError as e:
        raise CheckFailed(str(e)) from None


class _Cursor:
    """The one method of a DuckDB cursor compare_rows calls."""

    def __init__(self, table: pa.Table) -> None:
        self._table = table

    def arrow(self) -> pa.Table:
        return self._table


class Checker:
    """Checks each query's cold-pass output (Arrow tables from
    ``DataFrame.toArrow()``). Oracle answers depend only on the inputs and
    the SQL, so they are cached on disk by (input set, SQL digest)."""

    #: Checks that compare with another query's output: query -> that query.
    READS = {"wc_zipf_salted": "wc_zipf_plain", "wc_layout_write": "wc_partitioned_layout"}

    def __init__(self, spark, data_dir: str, work_dir: str, cache_dir: str, threads: int) -> None:
        self.spark, self.data, self.work, self.cache = spark, data_dir, work_dir, cache_dir
        self.threads = threads
        self._con = None

    def close(self) -> None:
        if self._con is not None:
            self._con.close()

    def oracle(self, sql: str) -> pa.Table:
        path = os.path.join(self.cache, hashlib.sha256(sql.encode()).hexdigest()[:20] + ".parquet")
        if os.path.exists(path):
            return pq.read_table(path)
        if self._con is None:
            self._con = duckdb_conn(self.data, self.threads)
        table = self._con.execute(materialize_ctes(sql)).arrow()
        os.makedirs(self.cache, exist_ok=True)
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)
        return table

    def check(self, name: str, outputs: dict[str, pa.Table]) -> None:
        special = {
            "wc_top_k": self._wc_top_k,
            "wc_zipf_plain": self._zipf_plain,
            "wc_zipf_salted": self._zipf_pair,
            "wc_layout_write": self._layout_readback,
            "dedup_cosine_corpus": self._cosine_invariant,
        }
        if name in special:
            special[name](outputs)
        else:
            compare_tables(name, outputs[name], self.oracle(_oracle_sql(name)))

    def _wc_top_k(self, outputs) -> None:
        # the top-K branch of the registered wc_suite oracle
        sql = f"SELECT word, cnt FROM ({_oracle_sql('wc_suite')}) WHERE op = 'topk'"
        compare_tables("wc_top_k", outputs["wc_top_k"], self.oracle(sql))

    def _zipf_plain(self, outputs) -> None:
        # the hot-token rewrite moves counts between words, never drops a token
        n_tokens = self.oracle(
            "SELECT count(*) AS n FROM (SELECT unnest(regexp_split_to_array(text, '[ \n]')) AS w "
            "FROM documents) WHERE w <> ''"
        ).column("n")[0].as_py()
        got = pc.sum(outputs["wc_zipf_plain"].column("cnt")).as_py()
        if got != n_tokens:
            raise CheckFailed(f"wc_zipf_plain: counts sum to {got}, corpus has {n_tokens} tokens")

    def _zipf_pair(self, outputs) -> None:
        compare_tables("wc_zipf_salted", outputs["wc_zipf_salted"], outputs["wc_zipf_plain"])

    def _layout_readback(self, outputs) -> None:
        back = self.spark.read.parquet(layout_dir(self.work)).select("initial", "word", "cnt").toArrow()
        compare_tables("wc_layout_write", back, outputs["wc_partitioned_layout"].select(["initial", "word", "cnt"]))

    def _cosine_invariant(self, outputs) -> None:
        # exact rescoring keeps precision at 1; planted dups (cosine well
        # above the threshold) must all be found, as the registry's tests pin
        t = pq.read_table(os.path.join(self.data, "embeddings.parquet"))
        ids = t.column("vec_id").to_numpy()
        m = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        sim = m @ m.T
        pos = {int(v): i for i, v in enumerate(ids)}
        got = outputs["dedup_cosine_corpus"]
        a_col, b_col = got.column_names[:2]
        found = set(zip(got.column(a_col).to_pylist(), got.column(b_col).to_pylist()))
        low = [p for p in found if sim[pos[p[0]], pos[p[1]]] < 0.9 - 1e-6]
        if low:
            raise CheckFailed(f"dedup_cosine_corpus: {len(low)} pairs below cosine 0.9, e.g. {low[0]}")
        a, b = np.nonzero(np.triu(sim >= 0.95, k=1))
        sure = {(int(ids[i]), int(ids[j])) for i, j in zip(a, b)}
        missed = sure - found
        if missed:
            raise CheckFailed(f"dedup_cosine_corpus: missed {len(missed)} of {len(sure)} pairs at cosine >= 0.95")


def _oracle_sql(name: str) -> str:
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import ORACLE_SQL

    return ORACLE_SQL[name]
