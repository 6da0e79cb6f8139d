"""Registry-integrity meta-tests: every registered query satisfies the
driver contract's structural conventions, so a future wave can't
silently regress the correctness gate."""

import json
import re
from pathlib import Path


def _registry():
    import __spark_entry__  # registers every wave
    from biosets_spark.queries import QUERIES

    return QUERIES


def test_every_query_has_oracle_and_desc():
    qs = _registry()
    assert len(qs) >= 143
    missing_oracle = [n for n, q in qs.items() if not q.oracle]
    missing_desc = [n for n, q in qs.items() if not q.desc]
    # every single query is differentially checkable (no rows-only)
    assert missing_oracle == []
    assert missing_desc == []


def test_query_names_well_formed():
    qs = _registry()
    assert all(re.fullmatch(r"q_[a-z0-9_]+", n) for n in qs)


def test_oracles_reference_known_tables_only():
    """Oracle FROM/JOIN targets must be registered test-table views (or
    CTE names defined inside the same oracle)."""
    from biosets_spark.tables import ALL_TABLES

    known = set(ALL_TABLES) | {"range"}  # range() is a table function
    # EXTRACT(part FROM col) / date_part-style FROMs are not table refs
    col_prefixes = ("l_", "o_", "c_", "p_", "s_", "n_", "r_", "ps_")
    qs = _registry()
    bad = {}
    for name, q in qs.items():
        sql = q.oracle
        # CTE names, with or without a column list: name [(cols)] AS (
        ctes = {m.lower() for m in re.findall(
            r"([a-zA-Z_][a-zA-Z0-9_]*)\s*(?:\([^()]*\))?\s+AS\s*\(",
            sql, re.IGNORECASE)}
        # (?<!DISTINCT ) keeps `x IS DISTINCT FROM y` from reading as a
        # table reference to y
        refs = set(re.findall(
            r"(?<!DISTINCT )\b(?:FROM|JOIN)\s+([a-zA-Z_][a-zA-Z0-9_]*)\b",
            sql, re.IGNORECASE))
        unknown = {
            r for r in refs
            if r.lower() not in known and r.lower() not in ctes
            and not r.lower().startswith(col_prefixes)
        }
        if unknown:
            bad[name] = unknown
    assert bad == {}, f"oracles referencing unknown tables: {bad}"


def _correctness_files():
    """{round: path} of the driver's committed CORRECTNESS files."""
    import __spark_entry__ as e

    root = Path(e.__file__).resolve().parent
    return {int(p.stem.removeprefix("CORRECTNESS_r")): p
            for p in root.glob("CORRECTNESS_r*.json")}


def test_driver_checked_names_exist():
    """Every name in a committed CORRECTNESS file is a registered query
    (a rename would silently drop its green round)."""
    qs = _registry()
    files = _correctness_files()
    assert files
    stale = {n for p in files.values() for n in json.loads(p.read_text()) if n not in qs}
    assert stale == set()


def test_unchecked_fit_driver_window():
    """Everything without a green driver row fits inside, and leads,
    the ~50 rows the driver records."""
    import __spark_entry__ as e

    qs = _registry()
    unchecked = [n for n in qs if n not in e._GREEN_ROUND]
    assert len(unchecked) <= 50
    assert e._ordered_names()[:len(unchecked)] == unchecked


def test_green_round_is_the_last_green_row(tmp_path, monkeypatch):
    """The last green round wins; a red row after a green one untags
    the name, so it moves to the front; a name with no row goes first.
    Rounds compare as numbers, not as file names."""
    import __spark_entry__ as e

    names = list(_registry())
    kept, redone, red, unseen = names[:4]
    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    rows = {9: {kept: green, redone: green, red: green},
            10: {redone: green, red: {**green, "hash_match": False}}}
    for rnd, r in rows.items():
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(r))
    tags = e._green_rounds(tmp_path)
    assert tags == {kept: 9, redone: 10}
    monkeypatch.setattr(e, "_GREEN_ROUND", tags)
    ordered = e._ordered_names()
    assert ordered[-2:] == [kept, redone]
    assert ordered[:2] == [red, unseen]


def test_driver_window_skips_the_newest_greens():
    """Once the tagged tail outgrows two windows, the recorded rows
    re-check older greens instead of the ones the newest CORRECTNESS
    file just recorded."""
    import __spark_entry__ as e

    files = _correctness_files()
    newest = json.loads(files[max(files)].read_text())
    fresh = {n for n, row in newest.items()
             if row["rows_match"] and row["schema_match"] and row["hash_match"]}
    if len(e._GREEN_ROUND) > 100:
        assert fresh.isdisjoint(list(e.queries())[:50])


def test_no_wave_redeclares_oracle_fragments():
    """r5 verdict task #7: the shared oracle fragments (whitespace
    tokenizer, DECIMAL revenue) live ONLY in oracle_fragments.py —
    a wave file re-declaring the literal is how a drift between the
    Spark plan and its oracle sneaks past the differential gate."""
    import glob
    import os

    root = os.path.join(os.path.dirname(__file__), "..", "biosets_spark")
    # Pre-r6 files with the raw split literal spelled inline inside an
    # oracle string (unfiltered/transform variants, each pinned by the
    # differential gate). Frozen ratchet: the list may only SHRINK —
    # any new file inlining the literal must import the fragment.
    inline_grandfathered = {
        "ext.py", "wave3.py", "wave4.py",
        "wave5.py", "wave10.py", "wave12.py",
        "wave13.py", "wave20.py", "wave22.py",
        "wave23.py", "wave53.py",
    }
    offenders = []
    for path in sorted(glob.glob(os.path.join(root, "queries", "*.py"))):
        src = open(path).read()
        base = os.path.basename(path)
        if re.search(r"_TOKS_SQL\s*=\s*[\"(]", src):
            offenders.append((base, "_TOKS_SQL"))
        if re.search(r"_REV_SQL\s*=\s*[\"(]", src):
            offenders.append((base, "_REV_SQL"))
        if (
            "string_split_regex(trim(text)" in src
            and base not in inline_grandfathered
        ):
            offenders.append((base, "inline tokenizer"))
    assert offenders == [], f"re-declared shared fragments: {offenders}"


def test_query_inventory_doc_current():
    """docs/QUERY_INVENTORY.md is a build artifact of the live
    registry — regenerate with `python tools/gen_inventory.py` when a
    wave changes. This pins the committed doc to the code."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_inventory", os.path.join(root, "tools", "gen_inventory.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    committed = open(os.path.join(root, "docs", "QUERY_INVENTORY.md")).read()
    assert committed == mod.build(), (
        "docs/QUERY_INVENTORY.md is stale — run python tools/gen_inventory.py"
    )


def test_pair_expand_matches_combinations():
    """pair_expand must emit exactly itertools.combinations(items, 2)
    of the sorted array — including the k<2 edge (no rows) and
    duplicate-free ordering. Pinned against the pure-Python truth on
    ragged baskets."""
    import itertools

    from pyspark.sql import functions as F

    from biosets_spark.queries import pair_expand
    from biosets_spark.session import get_spark

    spark = get_spark("test-pair-expand", master="local[4]")
    baskets = [
        [], [7], [1, 2], [3, 5, 9], [1, 2, 3, 4, 5, 6, 7],
    ]
    df = spark.createDataFrame(
        [(i, b) for i, b in enumerate(baskets)], "bid long, items array<int>"
    )
    got = sorted(
        tuple(r)
        for r in pair_expand(df.select("items"), "items", "a", "b").collect()
    )
    want = sorted(
        pair for b in baskets for pair in itertools.combinations(b, 2)
    )
    assert got == [tuple(p) for p in want]


def test_no_explode_of_higher_order_function():
    """Design rule (PERFORMANCE.md 'HOF codegen cliff'): a higher-order
    function whose output is immediately exploded runs INTERPRETED and
    pays a 7-9x first-execution CPU penalty — the Generate formulation
    (queries.pair_expand) is strictly better there. This ratchet keeps
    the pattern from reappearing: no source file may explode a
    flatten(transform(...)) expression."""
    import ast
    import glob
    import os
    import re

    root = os.path.join(os.path.dirname(__file__), "..", "biosets_spark")
    # code forms only — prose mentions (pair_expand's docstring) are
    # fine. Catches the SQL-string spelling ("flatten(transform(" in
    # any non-docstring string constant, covering F.expr/selectExpr/
    # expr/spark.sql) AND the native DSL spelling
    # F.flatten(F.transform(...)), which is equally interpreted and
    # previously escaped the ratchet.
    sql_pat = re.compile(r"flatten\s*\(\s*transform\s*\(")
    dsl_pat = re.compile(r"F\.flatten\(\s*F\.transform\(")

    def _docstrings(tree):
        out = set()
        for node in ast.walk(tree):
            if isinstance(node, (ast.Module, ast.FunctionDef,
                                 ast.AsyncFunctionDef, ast.ClassDef)):
                if (node.body and isinstance(node.body[0], ast.Expr)
                        and isinstance(node.body[0].value, ast.Constant)
                        and isinstance(node.body[0].value.value, str)):
                    out.add(id(node.body[0].value))
        return out

    def _strip_strings(src, tree):
        """Blank every string constant so the DSL regex only sees CODE
        (a docstring mentioning F.flatten(F.transform(...)) as prose
        must not trip the ratchet, mirroring the SQL-side exemption)."""
        out = src.splitlines(keepends=True)
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                for ln in range(node.lineno - 1, node.end_lineno):
                    a = node.col_offset if ln == node.lineno - 1 else 0
                    b = (node.end_col_offset if ln == node.end_lineno - 1
                         else len(out[ln]))
                    out[ln] = out[ln][:a] + " " * (b - a) + out[ln][b:]
        return "".join(out)

    offenders = []
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        src = open(path).read()
        tree = ast.parse(src)
        hit = bool(dsl_pat.search(_strip_strings(src, tree)))
        if not hit:
            doc_ids = _docstrings(tree)
            for node in ast.walk(tree):
                if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                        and id(node) not in doc_ids
                        and sql_pat.search(node.value)):
                    hit = True
                    break
        if hit:
            offenders.append(os.path.basename(path))
    assert not offenders, (
        f"explode-of-HOF pattern reintroduced in {offenders}; use "
        "queries.pair_expand (codegen Generate) instead"
    )


def test_only_pins_module_pins_or_frees():
    """Design rule: biosets_spark/pins.py is the one owner of pinned
    intermediates, so that every cache and checkpoint is registered and
    release_pinned_indexes() frees all of them. No other source file may
    call cache, persist, localCheckpoint or unpersist; prose mentions in
    docstrings and comments are not calls and do not count."""
    import ast
    import glob
    import os

    root = os.path.join(os.path.dirname(__file__), "..", "biosets_spark")
    banned = {"cache", "persist", "localCheckpoint", "unpersist"}
    offenders = []
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, root)
        if rel == "pins.py":
            continue
        for node in ast.walk(ast.parse(open(path).read())):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr in banned):
                offenders.append(f"{rel}:{node.lineno} .{node.func.attr}(")
    assert not offenders, (
        f"pin outside biosets_spark/pins.py: {offenders}; use pins.pin / pins.unpin")


def test_no_broad_exception_handlers():
    """Errors surface: no handler in the package catches ``Exception``
    (or everything, with a bare ``except``); each names the types its
    site receives. ``BaseException`` is allowed only in a handler that
    cleans up and re-raises."""
    import ast
    import glob
    import os

    root = os.path.join(os.path.dirname(__file__), "..", "biosets_spark")
    offenders = []
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, root)
        for node in ast.walk(ast.parse(open(path).read())):
            if not isinstance(node, ast.ExceptHandler):
                continue
            types = node.type.elts if isinstance(node.type, ast.Tuple) else [node.type]
            names = {getattr(t, "id", None) for t in types}
            reraises = any(isinstance(n, ast.Raise) and n.exc is None
                           for n in ast.walk(node))
            if (node.type is None or "Exception" in names
                    or ("BaseException" in names and not reraises)):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, f"broad exception handler: {offenders}; catch the named types"


def test_only_source_modules_read_files():
    """Design rule: file sources are resolved in the sources layer, so
    that every loader goes through the one source-relation memo
    (sources/relations.py) and an unchanged file is resolved once per
    session. No file outside sources/, streaming/, tables.py and
    plans/fingerprint.py may use ``spark.read`` (``.read`` as an
    attribute, not a call: ``f.read()`` on a file object is fine)."""
    import ast
    import glob
    import os

    root = os.path.join(os.path.dirname(__file__), "..", "biosets_spark")
    allowed_dirs = ("sources" + os.sep, "streaming" + os.sep)
    allowed_files = {"tables.py", os.path.join("plans", "fingerprint.py")}
    offenders = []
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, root)
        if rel.startswith(allowed_dirs) or rel in allowed_files:
            continue
        tree = ast.parse(open(path).read())
        called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
        for node in ast.walk(tree):
            if (isinstance(node, ast.Attribute) and node.attr == "read"
                    and id(node) not in called):
                offenders.append(f"{rel}:{node.lineno} .read")
    assert not offenders, (
        f"spark.read outside the sources layer: {offenders}; read through "
        "sources.readers.read_files (or tables.load)")


def test_load_path_actions_are_memoized_facts():
    """Design rule: a repeat load of unchanged files submits no job, so
    every driver action in load.py (collect, count, first, take, head)
    runs inside a ``relations.fact`` compute, memoized with the
    relations it is derived from."""
    import ast
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "biosets_spark", "load.py")
    tree = ast.parse(open(path).read())
    actions = {"collect", "count", "first", "take", "head"}
    memoized = set()
    for node in ast.walk(tree):
        func = getattr(node, "func", None)
        if (isinstance(func, ast.Attribute) and func.attr == "fact"
                and getattr(func.value, "id", None) == "relations"):
            memoized.update(id(n) for arg in node.args for n in ast.walk(arg))
    offenders = [
        f"load.py:{node.lineno} .{node.func.attr}()"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        and node.func.attr in actions and id(node) not in memoized
    ]
    assert not offenders, (
        f"driver action outside a relations.fact compute: {offenders}; "
        "memoize it with the relations it reads")


def test_no_role_tagging_inside_loops():
    """Design rule: a frame's roles are applied in one projection
    (roles.with_roles). with_role and apply_roles each rebuild the whole
    frame, so calling them inside a for/while body or a comprehension
    stacks one full-width Project per column: driver time and plan size
    quadratic in the frame's width."""
    import ast
    import glob
    import os

    root = os.path.join(os.path.dirname(__file__), "..", "biosets_spark")
    banned = {"with_role", "apply_roles"}
    loops = (ast.For, ast.AsyncFor, ast.While, ast.ListComp, ast.SetComp,
             ast.DictComp, ast.GeneratorExp)
    offenders = set()
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, root)
        for loop in ast.walk(ast.parse(open(path).read())):
            if not isinstance(loop, loops):
                continue
            for node in ast.walk(loop):
                if not isinstance(node, ast.Call):
                    continue
                func = node.func
                name = getattr(func, "attr", None) or getattr(func, "id", None)
                if name in banned:
                    offenders.add(f"{rel}:{node.lineno} {name}(")
    assert not offenders, (
        f"role tagging inside a loop: {sorted(offenders)}; collect a "
        "{column: updates} dict and call roles.with_roles once")


def test_driver_checked_tail_ordered_oldest_green_first():
    """The checked tail of the driver ordering is sorted by ascending
    green round, so spare window rows re-sample the stalest driver
    rows first."""
    import __spark_entry__ as e

    files = _correctness_files()
    assert set(e._GREEN_ROUND.values()) <= set(files)
    tail = [n for n in e._ordered_names() if n in e._GREEN_ROUND]
    tags = [e._GREEN_ROUND[n] for n in tail]
    assert tags == sorted(tags), "checked tail must be oldest-green-first"


def test_duplicate_query_registration_raises():
    """r7 review: the q() decorator silently REPLACED an existing
    query (and its oracle) on name reuse, removing it from bench and
    the correctness gate undetected."""
    import pytest

    from biosets_spark.queries import QUERIES, q

    existing = next(iter(QUERIES))
    with pytest.raises(ValueError, match="duplicate query registration"):
        q(existing)(lambda spark, sf_dir: None)


def test_bench_sf_parse_tolerant():
    """r7 review: bench crashed before the session even started on any
    dataset dir not named exactly 'sf<number>'."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(root, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    assert bench.parse_sf("/root/testdata/sf0.1") == 0.1
    assert bench.parse_sf("/data/tpch-sf10/") == 10.0
    assert bench.parse_sf("/data/mydata") is None


def test_check_oracle_canon_recurses_containers():
    """r7 review: array/struct cells fell through to raw str()
    comparison without float/decimal canonicalization."""
    import decimal
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.canon([decimal.Decimal("1.00"), 2.0]) == mod.canon([1.0, 2.0])
    assert mod.canon({"a": decimal.Decimal("3.50")}) == mod.canon({"a": 3.5})

    from pyspark.sql import Row
    assert mod.canon(Row(a=1, b=2.0)) == mod.canon({"a": 1, "b": 2.0})


def _canon():
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracle_canon", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


# hypothesis strategy for nested oracle cell values: scalars the two
# engines actually return (None/bool/int/float/str/date/datetime/
# Decimal) under arrays and string-keyed structs
def _value_strategy():
    import string

    from hypothesis import strategies as st

    leaf = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-2**62, max_value=2**62),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.text(max_size=8),
        st.dates(),
        st.datetimes(),
        st.decimals(min_value=-10**9, max_value=10**9, places=4,
                    allow_nan=False, allow_infinity=False),
    )
    keys = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=5)
    return st.recursive(
        leaf,
        lambda c: st.one_of(st.lists(c, max_size=4),
                            st.dictionaries(keys, c, max_size=4)),
        max_leaves=12,
    )


def test_canon_properties():
    """r7 verdict task #8: property-pin the oracle canonicalizer the
    way the GIF/Avro codecs are pinned. For any nested value tree:
    (1) the Spark rendering (Row structs, lists, Decimals) and the
    DuckDB rendering (dicts in any key order, tuples, floats for
    decimals) canonicalize EQUAL, and (2) canon is idempotent
    (canon(canon(v)) == canon(v)), so hash comparison is stable."""
    import decimal
    import random

    from hypothesis import given, settings

    from pyspark.sql import Row

    canon = _canon()

    def spark_side(v):
        if isinstance(v, dict):
            if not v:
                return {}
            return Row(**{k: spark_side(x) for k, x in v.items()})
        if isinstance(v, list):
            return [spark_side(x) for x in v]
        return v  # Decimals stay Decimal on the Spark side

    def duck_side(v, rnd):
        if isinstance(v, dict):
            items = list(v.items())
            rnd.shuffle(items)  # struct key order must not matter
            return {k: duck_side(x, rnd) for k, x in items}
        if isinstance(v, list):
            return tuple(duck_side(x, rnd) for x in v)
        if isinstance(v, decimal.Decimal):
            return float(v)  # DECIMAL-vs-DOUBLE engine pair
        return v

    @given(v=_value_strategy())
    @settings(max_examples=150, deadline=None)
    def check(v):
        rnd = random.Random(0)
        a = canon(spark_side(v))
        b = canon(duck_side(v, rnd))
        assert a == b
        assert canon(a) == a  # idempotence

    check()


def test_canon_decimal_float_parity_beyond_10_sig_digits():
    """Regression (r8): Decimal must route through the float
    canonicalization — a raw float() false-FAILed DECIMAL-vs-DOUBLE
    pairs on values with more than 10 significant digits."""
    import decimal

    canon = _canon()
    for s in ("1000000.0001", "123456789.012", "-99999999.999"):
        assert canon(decimal.Decimal(s)) == canon(float(s)), s
    # distinctness is preserved where it matters
    assert canon(1) != canon("1")
    assert canon(None) != canon("None")
    assert canon(float("nan")) == canon(float("nan")) == "NaN"


# Build-job ratchet: the Spark jobs a warm build of each decision_heavy
# query submits at SF_SMOKE (AQE submits each exchange and each cache
# fill below an action as a job of its own). A change that adds a
# decision job back fails here; lower a bound when a change removes one.
DECISION_BUILD_JOBS = {
    "q_dedup_minhash_lsh": (6, "one bucket-stats first(): over-cap test and doc count in one row"),
    "q_dedup_ngram_jaccard": (3, "the eager fill of the pinned shingle table"),
    "q_components_user_chains": (7, "edge checkpoint with its size, then one star round"),
    "q_pipeline_curated_corpus": (3, "the centroid sample, which fills the pinned vectors"),
}


def test_decision_heavy_build_jobs_ratchet(spark, count_jobs):
    from biosets_spark import release_pinned_indexes
    from tests.conftest import SF_SMOKE

    qs = _registry()
    got = {}
    for name in DECISION_BUILD_JOBS:
        qs[name].fn(spark, SF_SMOKE).collect()  # warm: plan caches, memo
        release_pinned_indexes()
        df, got[name] = count_jobs(lambda: qs[name].fn(spark, SF_SMOKE))
        df.collect()
        release_pinned_indexes()
    over = {n: (got[n], b) for n, (b, _) in DECISION_BUILD_JOBS.items() if got[n] > b}
    assert over == {}, f"build jobs above their bound (got, bound): {over}"
