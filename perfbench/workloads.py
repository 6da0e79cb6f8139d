"""The benchmark's workloads: their operations and the checks on them.

An operation returns its timings and what is needed to check it; the
check runs after the operation's timed region closes.

- ``decision_heavy``: queries whose build submits Spark decision jobs
  and pins intermediates (dedup, clustering, graph, corpus pipelines).
  Build-time jobs are most of their wall, which is where lazy build,
  folded decision jobs and prefix filtering act.
- ``relational_lazy``: TPC-H-shape queries whose build submits no job.
  Fixed per-query overhead (Catalyst, the ``tables`` relation memo,
  collect) dominates; a change aimed at decision jobs should leave it
  flat.
- ``omics_ingest``: the paper's own path: discover, read, join sample
  and feature metadata, tag roles, encode labels, cache by fingerprint
  (miss, then hit), split and count per label. Cohort width is the
  property that varies.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

DECISION_HEAVY = (
    "q_dedup_minhash_lsh", "q_dedup_ngram_jaccard", "q_components_user_chains",
    "q_pipeline_curated_corpus",
)

RELATIONAL_LAZY = (
    # scans and aggregates
    "q_pricing_summary", "q_having", "q_grouping_sets", "q_grouping_id", "q_pivot",
    "q_unpivot_measures", "q_quantiles", "q_collect_list", "q_log2_histogram",
    # joins and subqueries
    "q_anti_join", "q_semi_join", "q_full_outer", "q_left_join_histogram",
    "q_join_multi_key", "q_range_join", "q_cross_join", "q_top_orders", "q_market_share",
    "q_volume_shipping", "q_returned_items", "q_product_profit", "q_min_cost_supplier",
    "q_order_priority_check", "q_exists_subquery", "q_scalar_subquery",
    # set operations
    "q_set_except", "q_set_intersect", "q_union_promote",
    # windows
    "q_window_running_sum", "q_window_lag_gap", "q_window_topk_per_group",
    "q_window_range_frame", "q_percent_rank", "q_yoy_growth",
    # scalar functions
    "q_string_funcs", "q_math_funcs", "q_date_funcs", "q_flatten_struct", "q_sort_nulls",
    "q_slice_offset",
)

QUERY_WORKLOADS = {"decision_heavy": DECISION_HEAVY, "relational_lazy": RELATIONAL_LAZY}
WORKLOADS = (*QUERY_WORKLOADS, "omics_ingest")

# Operations run once, untimed, before the timed passes, so the JVM's
# JIT and Spark's code-generation caches are warm and a timed operation
# does not pay for being first. Each query takes its own code paths, so
# every query is warmed. The cohorts share theirs, so one is warmed;
# the others still run 20-40% slower in the first timed pass, which
# the best of three passes (MIN_PASSES) leaves out, as it does the JIT
# warming that goes on for several passes even after a whole warm pass.
WARM_UP = {**QUERY_WORKLOADS, "omics_ingest": ("csv_narrow",)}

# Timed passes per run, at least. An omics operation is a chain of short
# jobs and driver-side planning that the JIT keeps speeding up for
# several passes, and CPU time taken by neighbouring tenants lands on
# its wall almost in full; each operation's best of three passes drops
# both. A decision_heavy pass is longer and spends it in parallel
# stages, and a second pass would not fit the run budget.
MIN_PASSES = {"decision_heavy": 1, "relational_lazy": 1, "omics_ingest": 3}


@dataclass
class OpResult:
    """Timings of one operation plus what its check needs."""

    name: str
    wall_s: float
    build_s: float = 0.0
    collect_s: float = 0.0
    frames: list = field(default_factory=list)   # collected DataFrames (catalyst phases)
    check: tuple = ()
    cache_bytes: int = 0
    input_bytes: int = 0


# ------------------------------------------------------------- queries

def run_query(spark, sf_dir: str, name: str, phase) -> OpResult:
    from biosets_spark.queries import QUERIES

    phase("build")
    t0 = time.perf_counter()
    df = QUERIES[name].fn(spark, sf_dir)
    t1 = time.perf_counter()
    phase("collect")
    rows = df.collect()
    t2 = time.perf_counter()
    phase(None)
    return OpResult(name, t2 - t0, t1 - t0, t2 - t1, [df], (df.schema, rows))


def query_digest(cols: list[str], type_classes: dict[str, str], rows) -> dict:
    """What the oracle comparison needs: sorted columns, per-column
    type class, row count and a digest of the canonical rows."""
    from check_oracle import rows_canon

    canon = repr(rows_canon(cols, rows)).encode()
    return {"cols": sorted(cols), "types": [type_classes[c] for c in sorted(cols)],
            "rows": len(rows), "digest": hashlib.sha256(canon).hexdigest()}


def check_query(oracle: dict, schema, rows) -> str | None:
    """None when the Spark result matches the DuckDB oracle digest,
    else the first difference."""
    from check_oracle import spark_type_class

    cols = [f.name for f in schema.fields]
    got = query_digest(cols, {f.name: spark_type_class(f.dataType) for f in schema.fields},
                       [tuple(r) for r in rows])
    for key in ("cols", "types", "rows", "digest"):
        if got[key] != oracle[key]:
            return f"{key}: spark={got[key]!r} oracle={oracle[key]!r}"
    return None


def oracle_digests(sf_dir: str, names) -> dict[str, dict]:
    """Run each query's DuckDB oracle over the tables in ``sf_dir``."""
    import duckdb
    from check_oracle import arrow_type_class

    import __spark_entry__
    from biosets_spark.tables import ALL_TABLES

    sql = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ALL_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for name in names:
            tbl = con.execute(sql[name]).arrow()
            cols = tbl.column_names
            rows = list(zip(*(tbl.column(c).to_pylist() for c in cols))) if cols else [()] * tbl.num_rows
            types = {c: arrow_type_class(tbl.schema.field(c).type) for c in cols}
            out[name] = {**query_digest(cols, types, rows), "sql_sha": sql_sha(sql[name])}
        return out
    finally:
        con.close()


def sql_sha(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


# ---------------------------------------------------------------- omics

def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def cache_entries(cache_dir: str) -> int:
    return sum(d.startswith("cache-") for d in os.listdir(cache_dir))


def run_cohort(spark, cohort, cache_dir: str, seed: int, phase) -> OpResult:
    """Load with both metadata files, materialize (a miss that
    writes), load and materialize again (a hit that reads), then split
    and count rows per encoded label."""
    from biosets_spark import load_dataset

    phase("build")
    t0 = time.perf_counter()
    first = load_dataset(path=cohort.dir, labels=cohort.labels, spark=spark)
    first.materialize(cache_dir)
    entries_after_miss = cache_entries(cache_dir)
    ds = load_dataset(path=cohort.dir, labels=cohort.labels, spark=spark).materialize(cache_dir)
    parts = ds.train_test_split(test_size=0.25, seed=seed)
    frames = [parts[k].df.groupBy("encoded_labels").count() for k in ("train", "test")]
    phase("collect")
    t1 = time.perf_counter()
    counts = [f.collect() for f in frames]
    t2 = time.perf_counter()
    phase(None)
    cache_bytes = _dir_bytes(cache_dir)
    check = (ds.df.schema, counts, entries_after_miss, cache_entries(cache_dir))
    shutil.rmtree(cache_dir, ignore_errors=True)
    return OpResult(cohort.name, t2 - t0, t1 - t0, t2 - t1, frames, check,
                    cache_bytes, cohort.input_bytes)


def check_cohort(cohort, schema, counts, entries_after_miss: int, entries_after_hit: int) -> str | None:
    """Compare a cohort's result with what the generator knows: rows
    and codes per label, role tags, label dictionary, feature-metadata
    attachment, and one cache entry that the second load hit."""
    from biosets_spark.schema import roles

    if entries_after_miss != 1 or entries_after_hit != 1:
        return f"cache entries after miss/hit: {entries_after_miss}/{entries_after_hit}, want 1/1"
    per_code: dict[int, int] = {}
    for rows in counts:
        for code, n in rows:
            per_code[code] = per_code.get(code, 0) + n
    if per_code != cohort.label_counts:
        return f"rows per label code {per_code} != generated {cohort.label_counts}"
    fields = {f.name: f.metadata or {} for f in schema.fields}
    want_roles = {"sample": roles.ROLE_SAMPLE, "batch": roles.ROLE_BATCH,
                  "age": roles.ROLE_METADATA, "site": roles.ROLE_METADATA,
                  "target": roles.ROLE_TARGET, "encoded_labels": roles.ROLE_TARGET}
    want_roles.update({f: roles.ROLE_FEATURE for f in cohort.features})
    if set(fields) != set(want_roles):
        return f"columns {sorted(set(fields) ^ set(want_roles))} differ"
    for col, role in want_roles.items():
        if fields[col].get(roles.ROLE_KEY) != role:
            return f"{col}: role {fields[col].get(roles.ROLE_KEY)!r} != {role!r}"
    if fields["encoded_labels"].get(roles.LABELS_KEY) != cohort.dictionary:
        return f"label dictionary {fields['encoded_labels'].get(roles.LABELS_KEY)} != {cohort.dictionary}"
    for f in cohort.features:
        got = {k: str(v) for k, v in (fields[f].get(roles.META_KEY) or {}).items()}
        if got != cohort.feature_meta[f]:
            return f"{f}: feature metadata {got} != {cohort.feature_meta[f]}"
    return None
