"""Input generators for the benchmark.

``write_tables`` writes the ten query tables (TPC-H-shape star schema
plus ``events``, ``documents`` and ``embeddings``) with the schemas and
value domains the query inventory and its DuckDB oracles are written
against. The tables are fixed: the query workloads take their seed
only to permute operation order, so every run of them reads the same
bytes.

``write_cohorts`` writes the omics cohorts of the ingest workload. The
seed drives every value, but not the shapes: sample counts, feature
counts and file formats are the same for every seed, so runs with
different seeds do the same amount of work.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
EMBED_DIM = 64


def _ts(days: np.ndarray, start: str) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (days * 86_400_000_000).astype("timedelta64[us]"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, sf: float) -> None:
    """Write the query tables at scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb, n_users = max(500, int(50_000 * sf)), max(500, int(20_000 * sf)), int(15_000 * sf)
    pick = lambda vals, n: np.array(vals, dtype=object)[rng.integers(0, len(vals), n)]  # noqa: E731

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    partkey = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": partkey,
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900 + (partkey % 1000) / 10})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _ts(rng.integers(1, 2499, n_li), "1995-01-01")})
    gaps = rng.exponential(26.0, n_ev)
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev),
        "ts": _ts(np.cumsum(gaps) / 86_400, "2024-01-01"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    # every 20th document is a near-duplicate: an earlier text plus " dup"
    texts: list[str] = []
    for i in range(n_docs):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs),
        "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts])})
    emb = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


# ---------------------------------------------------------------- omics

CLASSES = ("case", "control", "relapse")
# the explicit dictionary of the multi-shard cohort; deliberately not
# sorted, so its codes differ from the inferred (sorted) dictionary
SHARD_LABELS = ["control", "case", "relapse"]


@dataclass(frozen=True)
class Cohort:
    """One generated cohort and what the generator knows about it."""

    name: str
    dir: str
    features: tuple[str, ...]
    feature_meta: dict           # feature -> {"gene_symbol", "chromosome"}
    labels: list | None          # explicit labels= for load_dataset
    dictionary: list             # label dictionary the load should encode with
    label_counts: dict           # encoded label code -> rows
    input_bytes: int


# (name, format, shards, samples, features): feature counts span 4x
COHORT_SHAPES = (
    ("csv_narrow", "csv", 1, 120, 4),
    ("tsv_wide", "tsv", 1, 120, 16),
    ("parquet_narrow", "parquet", 1, 120, 4),
    ("shards_narrow", "csv", 3, 120, 4),
)


def _write_frame(path: str, fmt: str, cols: dict) -> None:
    table = pa.table(cols)
    if fmt == "parquet":
        pq.write_table(table, path)
    else:
        import pyarrow.csv as pcsv

        pcsv.write_csv(table, path, pcsv.WriteOptions(
            delimiter="\t" if fmt == "tsv" else ",", quoting_style="none"))


def write_cohorts(out_dir: str, seed: int) -> list[Cohort]:
    """Write every cohort of ``COHORT_SHAPES`` under ``out_dir``: a
    count matrix (samples x features), a sample-metadata file and a
    feature-metadata file per cohort directory."""
    rng = np.random.default_rng(seed)
    cohorts = []
    for name, fmt, shards, n, width in COHORT_SHAPES:
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        samples = [f"S{i:05d}" for i in range(n)]
        features = tuple(f"gene_{j:05d}" for j in range(width))
        counts = rng.negative_binomial(2, 0.02, (n, width))
        target = np.array(CLASSES)[rng.integers(0, len(CLASSES), n)]
        bounds = np.linspace(0, n, shards + 1).astype(int)
        for s in range(shards):
            lo, hi = bounds[s], bounds[s + 1]
            cols = {"sample": samples[lo:hi]}
            cols.update({f: counts[lo:hi, j] for j, f in enumerate(features)})
            data_name = f"counts-{s}.{fmt}" if shards > 1 else f"counts.{fmt}"
            _write_frame(os.path.join(d, data_name), fmt, cols)
        _write_frame(os.path.join(d, "sample_metadata.csv"), "csv", {
            "sample": samples,
            "batch": [f"batch{b}" for b in rng.integers(1, 5, n)],
            "age": rng.integers(20, 90, n),
            "site": np.array(["north", "south", "east", "west"])[rng.integers(0, 4, n)],
            "target": target})
        symbols = [f"SYM{int(x)}" for x in rng.integers(0, 100_000, width)]
        chroms = [f"chr{int(x)}" for x in rng.integers(1, 23, width)]
        _write_frame(os.path.join(d, "feature_metadata.csv"), "csv", {
            "feature": list(features), "gene_symbol": symbols, "chromosome": chroms})
        labels = SHARD_LABELS if shards > 1 else None
        dictionary = labels or sorted(set(target.tolist()))
        codes, freq = np.unique([dictionary.index(t) for t in target], return_counts=True)
        cohorts.append(Cohort(
            name=name, dir=d, features=features,
            feature_meta={f: {"gene_symbol": s, "chromosome": c}
                          for f, s, c in zip(features, symbols, chroms)},
            labels=labels, dictionary=dictionary,
            label_counts={int(c): int(k) for c, k in zip(codes, freq)},
            input_bytes=sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))))
    return cohorts
