"""Tests of the benchmark's own parts; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from spans import Recorder, Span, Tracer, layer_of, self_times, union_length  # noqa: E402


def _span(i, start, end, parent=None, name="x"):
    return Span(i, name, start, end, parent)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert union_length([]) == 0


def test_self_time_adds_up_on_synthetic_tree():
    # root 0-10 with children a 1-4 (its child a1 2-3), b 4-6, c 8-9
    tree = [
        _span(0, 0, 10),
        _span(1, 1, 4, parent=0),
        _span(2, 2, 3, parent=1),
        _span(3, 4, 6, parent=0),
        _span(4, 8, 9, parent=0),
    ]
    st = self_times(tree)
    assert st == pytest.approx({0: 4, 1: 2, 2: 1, 3: 2, 4: 1})
    # sequential children: the self times partition the root's interval
    assert sum(st.values()) == pytest.approx(10)


def test_self_time_counts_overlapping_children_once_and_clips():
    # children from two threads overlap; one runs past the parent's end
    tree = [_span(0, 0, 10), _span(1, 2, 6, parent=0), _span(2, 4, 8, parent=0), _span(3, 9, 12, parent=0)]
    assert self_times(tree)[0] == pytest.approx(10 - 6 - 1)


def test_layer_names_follow_package_modules():
    assert layer_of("operators.text.doc_profile") == "operators.text"
    assert layer_of("sources.sinks.write_table") == "sinks"
    assert layer_of("sources.registry.load_table") == "sources"
    assert layer_of("plans.parallelism.spread") == "plans"
    assert layer_of("queries[wc_suite]") == "queries"
    assert layer_of("bench[wc_top_k]") == "queries"
    assert layer_of("streaming.windows.run_available_now") == "streaming"


@pytest.fixture
def fake_package(monkeypatch):
    """A defining module, a module that bound its function at import, and
    a registry holding a query callable."""
    pkg = spans.PKG
    defining = types.ModuleType(f"{pkg}.operators.fake")

    def inner(x):
        return x + 1

    def outer(x):
        return defining.inner(x) * 2

    for fn in (inner, outer):
        fn.__module__ = defining.__name__
        setattr(defining, fn.__name__, fn)
    importer = types.ModuleType(f"{pkg}.queries.fake_q")
    importer.outer = outer  # `from ..operators.fake import outer`
    for mod in (defining, importer):
        monkeypatch.setitem(sys.modules, mod.__name__, mod)
    registry = {"q": lambda x: importer.outer(x)}
    return defining, importer, registry


def test_tracer_wraps_every_binding_and_restores(fake_package):
    defining, importer, registry = fake_package
    originals = (defining.inner, defining.outer, importer.outer, registry["q"])
    rec = Recorder()
    tracer = Tracer(rec, {"queries": registry})
    tracer.install()
    try:
        assert importer.outer is defining.outer is not originals[1]
        assert registry["q"](1) == 4
    finally:
        tracer.uninstall()
    assert (defining.inner, defining.outer, importer.outer, registry["q"]) == originals
    names = {s.name: s for s in rec.spans}
    assert set(names) == {"queries[q]", "operators.fake.outer", "operators.fake.inner"}
    assert names["operators.fake.outer"].parent == names["queries[q]"].id
    assert names["operators.fake.inner"].parent == names["operators.fake.outer"].id


def test_same_seed_same_content_hash(tmp_path):
    small = {"customer": 50, "supplier": 10, "part": 50, "orders": 200, "lineitem": 500, "events": 300, "docs": 200, "vectors": 100}
    params = {**gen.PARAMS["curation_stream"], **small}
    a, info_a = gen.ensure("curation_stream", 7, str(tmp_path / "a"), params)
    b, info_b = gen.ensure("curation_stream", 7, str(tmp_path / "b"), params)
    c, info_c = gen.ensure("curation_stream", 8, str(tmp_path / "c"), params)
    assert info_a["content_hash"] == info_b["content_hash"] != info_c["content_hash"]
    again, info = gen.ensure("curation_stream", 7, str(tmp_path / "a"), params)
    assert again == a and info["cached"] and info["content_hash"] == info_a["content_hash"]


def test_manifest_matches_the_metrics_the_runner_prints():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    assert [w["name"] for w in manifest["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in manifest["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in manifest["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("rows", [50, workloads.BIG_TABLE_ROWS + 50])
def test_compare_tables_is_order_insensitive_and_typed(rows):
    # both sizes: small tables go through compare_rows, large ones through sorted Arrow
    import pyarrow as pa

    words = pa.array([f"w{i}" for i in range(rows)])
    oracle = pa.table({"cnt": pa.array(range(rows), pa.int64()), "word": words})
    spark = pa.table({"word": words[::-1], "cnt": pa.array(range(rows - 1, -1, -1), pa.int32())})
    workloads.compare_tables("q", spark, oracle)
    changed = oracle.set_column(0, "cnt", pa.array([*range(rows - 1), rows + 7], pa.int64()))
    with pytest.raises(workloads.CheckFailed, match="first differing row"):
        workloads.compare_tables("q", spark, changed)
    with pytest.raises(workloads.CheckFailed, match="row count"):
        workloads.compare_tables("q", spark, oracle.slice(1))
