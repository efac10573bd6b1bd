"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (seed, parameters): the same seed gives
byte-identical parquet files, so the same content hash. Outputs land in a
cache directory keyed by a digest of (kind, seed, parameters); a finished
directory carries a ``_DONE`` marker holding its content hash, and a
directory without one is rebuilt. Generation is single-process NumPy +
Arrow, with no Spark session, and its time is reported on its own, never
inside a metric.

Two input kinds:

- ``wordcount``: 100,000 documents, a Zipf corpus (s = 1.07) over a
  random vocabulary of 200,000 lowercase words, 20-160 tokens per
  document, written as a DIRECTORY of part files
  (``documents.parquet/part-*.parquet``), the production layout.
- ``curation_stream``: the TPC-H-shaped star schema and the ``events``
  stream table at sf0.1 row counts, each a single parquet FILE (the
  streaming stager needs a single-file ``events``), plus ``documents``
  and ``embeddings`` shaped like the sf0.1 fixture's: 2,000 docs over a
  30-word uniform vocabulary (stopwords ``the`` and ``a`` included),
  10-100 tokens per doc, 5 langs, 20 sources, 5% planted near-duplicates
  (a copy of an earlier doc plus the token ``dup``); 2,000 x 64 unit
  float32 vectors in 10 labelled clusters with 2% planted
  near-duplicates (cosine ~0.99 to an earlier vector).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORDCOUNT = {
    "docs": 100_000,
    "vocab": 200_000,
    "zipf_s": 1.07,
    "min_tokens": 20,
    "max_tokens": 160,
    "parts": 8,
}

CURATION = {
    "docs": 2_000,
    "min_tokens": 10,
    "max_tokens": 100,
    "doc_dup_frac": 0.05,
    "vectors": 2_000,
    "dim": 64,
    "clusters": 10,
    "vec_dup_frac": 0.02,
}

RELATIONAL = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "users": 1_500,
}

#: The sf0.1 fixture's 30-word vocabulary (two of them stopwords).
CURATION_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
SOURCES = 20

PARAMS = {"wordcount": WORDCOUNT, "curation_stream": {**RELATIONAL, **CURATION}}


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _join_tokens(tokens: pa.Array, counts: np.ndarray) -> pa.Array:
    """Join a flat token array into one space-separated string per document,
    ``counts[i]`` tokens for document i."""
    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    return pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), tokens), " ")


def _random_vocab(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct random lowercase words of 3-10 letters."""
    words: dict[str, None] = {}
    while len(words) < n:
        m = int((n - len(words)) * 1.05) + 16
        lens = rng.integers(3, 11, size=m)
        letters = rng.integers(ord("a"), ord("z") + 1, size=int(lens.sum()), dtype=np.uint8).tobytes()
        pos = 0
        for ln in lens.tolist():
            words.setdefault(letters[pos : pos + ln].decode("ascii"))
            pos += ln
            if len(words) == n:
                break
    return list(words)


def _doc_columns(rng: np.random.Generator, doc_ids: np.ndarray, text: pa.Array) -> dict:
    langs = rng.choice(len(LANGS), size=len(doc_ids), p=LANG_WEIGHTS)
    return {
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": text,
        "lang": pa.array(np.asarray(LANGS, dtype=object)[langs]),
        "source": pa.array([f"src{i % SOURCES}" for i in doc_ids.tolist()]),
        "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
    }


def gen_wordcount(seed: int, out: str, p: dict = WORDCOUNT) -> None:
    rng = np.random.default_rng([seed, 1])
    vocab = pa.array(_random_vocab(rng, p["vocab"]))
    # rank -> word is a random permutation, so word frequency is
    # independent of word length and initial letter
    rank_to_word = rng.permutation(p["vocab"])
    cdf = np.cumsum(np.arange(1, p["vocab"] + 1, dtype=np.float64) ** -p["zipf_s"])
    cdf /= cdf[-1]
    root = os.path.join(out, "documents.parquet")
    os.makedirs(root)
    per_part = -(-p["docs"] // p["parts"])
    for part in range(p["parts"]):
        lo, hi = part * per_part, min(p["docs"], (part + 1) * per_part)
        counts = rng.integers(p["min_tokens"], p["max_tokens"] + 1, size=hi - lo)
        ranks = np.searchsorted(cdf, rng.random(int(counts.sum())), side="right")
        ranks = np.minimum(ranks, p["vocab"] - 1)
        text = _join_tokens(vocab.take(pa.array(rank_to_word[ranks])), counts)
        cols = _doc_columns(rng, np.arange(lo, hi, dtype=np.int64), text)
        _write(pa.table(cols), os.path.join(root, f"part-{part:05d}.parquet"))


def curation_documents(seed: int, p: dict = CURATION) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    n = p["docs"]
    n_dup = int(round(n * p["doc_dup_frac"]))
    counts = rng.integers(p["min_tokens"], p["max_tokens"] + 1, size=n)
    tokens = pa.array(np.asarray(CURATION_VOCAB, dtype=object)[rng.integers(0, len(CURATION_VOCAB), size=int(counts.sum()))])
    text = _join_tokens(tokens, counts).to_pylist()
    # planted near-duplicates: doc i (a random non-planted position) becomes
    # a copy of an earlier original with the token "dup" appended
    dup_pos = np.sort(rng.choice(np.arange(1, n), size=n_dup, replace=False))
    planted = set(dup_pos.tolist())
    originals = [i for i in range(n) if i not in planted]
    orig = np.asarray(originals)
    for i in dup_pos.tolist():
        earlier = orig[orig < i]
        text[i] = text[int(rng.choice(earlier))] + " dup"
    return pa.table(_doc_columns(rng, np.arange(n, dtype=np.int64), pa.array(text)))


def curation_embeddings(seed: int, p: dict = CURATION) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    n, dim = p["vectors"], p["dim"]
    centers = rng.normal(size=(p["clusters"], dim))
    labels = rng.integers(0, p["clusters"], size=n)
    vecs = 0.5 * centers[labels] + rng.normal(size=(n, dim))
    n_dup = int(round(n * p["vec_dup_frac"]))
    dup_pos = np.sort(rng.choice(np.arange(1, n), size=n_dup, replace=False))
    planted = set(dup_pos.tolist())
    orig = np.asarray([i for i in range(n) if i not in planted])
    for i in dup_pos.tolist():
        src = int(rng.choice(orig[orig < i]))
        vecs[i] = vecs[src] + rng.normal(scale=0.1, size=dim) * np.linalg.norm(vecs[src]) / np.sqrt(dim)
        labels[i] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.astype(np.float32).ravel()), dim)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform two-decimal amounts in [lo, hi]."""
    return rng.integers(int(round(lo * 100)), int(round(hi * 100)) + 1, size=n) / 100.0


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + rng.integers(0, span_days + 1, size=n).astype("timedelta64[D]"))


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), size=n)])


def gen_curation_stream(seed: int, out: str, p: dict = PARAMS["curation_stream"]) -> None:
    rng = np.random.default_rng([seed, 4])
    nc, ns, npart, no, nl = p["customer"], p["supplier"], p["part"], p["orders"], p["lineitem"]
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, 25, size=nc).astype(np.int32)),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": _pick(rng, ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), nc),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, 25, size=ns).astype(np.int32)),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
                "p_name": pa.array(
                    [
                        f"{a} {b}"
                        for a, b in zip(
                            np.asarray(("large", "small", "hot", "blue", "red", "cold", "green", "dark"))[
                                rng.integers(0, 8, size=npart)
                            ],
                            np.asarray(("ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"))[
                                rng.integers(0, 8, size=npart)
                            ],
                        )
                    ]
                ),
                "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, size=npart).tolist()]),
                "p_type": _pick(rng, ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), npart),
                "p_size": pa.array(rng.integers(1, 51, size=npart).astype(np.int32)),
                "p_retailprice": _money(rng, 900.0, 999.9, npart),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, nc, size=no)),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
                "o_totalprice": _money(rng, 1000.0, 500000.0, no),
                "o_orderdate": _days(rng, "1995-01-01", 2404, no),
                "o_orderpriority": _pick(rng, ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), no),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, size=nl)),
                "l_partkey": pa.array(rng.integers(0, npart, size=nl)),
                "l_suppkey": pa.array(rng.integers(0, ns, size=nl)),
                "l_linenumber": pa.array(rng.integers(1, 8, size=nl).astype(np.int32)),
                "l_quantity": rng.integers(1, 51, size=nl).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
                "l_discount": rng.integers(0, 11, size=nl) / 100.0,
                "l_tax": rng.integers(0, 9, size=nl) / 100.0,
                "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
                "l_linestatus": _pick(rng, ("F", "O"), nl),
                "l_shipdate": _days(rng, "1995-01-02", 2498, nl),
            }
        ),
    }
    ne = p["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(start + rng.integers(0, 30 * 86_400_000_000, size=ne).astype("timedelta64[us]"))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, p["users"], size=ne)),
            "event_type": _pick(rng, ("click", "error", "purchase", "signup", "view"), ne),
            "value": np.round(rng.exponential(50.0, size=ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=ne).tolist()]),
        }
    )
    for name, table in tables.items():
        _write(table, os.path.join(out, f"{name}.parquet"))
    _write(curation_documents(seed, p), os.path.join(out, "documents.parquet"))
    _write(curation_embeddings(seed, p), os.path.join(out, "embeddings.parquet"))


GENERATORS = {"wordcount": gen_wordcount, "curation_stream": gen_curation_stream}


def content_hash(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes), in
    sorted order; the ``_DONE`` marker is excluded."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name == "_DONE":
                continue
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


def cache_key(kind: str, seed: int, params: dict) -> str:
    blob = json.dumps({"kind": kind, "seed": seed, "params": params}, sort_keys=True)
    return f"{kind}-s{seed}-{hashlib.sha256(blob.encode()).hexdigest()[:12]}"


def ensure(kind: str, seed: int, cache_root: str, params: dict | None = None) -> tuple[str, dict]:
    """Return ``(directory, info)`` for the inputs of ``kind`` at ``seed``,
    generating them first unless a finished copy is cached. ``info`` holds
    the content hash, the generation time (0 on a cache hit) and whether
    the cache was hit."""
    import time

    params = PARAMS[kind] if params is None else params
    out = os.path.join(cache_root, cache_key(kind, seed, params))
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        with open(marker) as f:
            return out, {"content_hash": f.read().strip(), "gen_s": 0.0, "cached": True}
    t0 = time.perf_counter()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    GENERATORS[kind](seed, out, params)
    digest = content_hash(out)
    with open(marker, "w") as f:
        f.write(digest + "\n")
    return out, {"content_hash": digest, "gen_s": time.perf_counter() - t0, "cached": False}

