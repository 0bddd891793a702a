"""Driver-contract smoke tests: entry() + every queries() entry runs on
a bare SparkSession (no engine-specific builder configs) and returns a
stable schema with ≥0 rows at sf0.001."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

pytestmark = pytest.mark.smoke

SF = "/root/testdata/sf0.001"


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns[0] == "l_returnflag"


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_runs_sf0001(spark, name):
    df = entry_mod.queries()[name](spark, SF)
    assert df.count() >= 0


def test_oracles_cover_queries():
    qs = set(entry_mod.queries())
    oracles = set(entry_mod.oracle_sql())
    assert oracles <= qs
    # every query is oracle-gated (bit votes and float buckets replay in
    # DuckDB via ('0x'||hex)::BIGINT arithmetic)
    assert qs - oracles == set()


def test_registry_fits_driver_window():
    # The driver's correctness gate records at most 50 queries; a 51st
    # entry silently falls off the gate (it happened to q_shingle_edges
    # in round 5).  New queries must merge into composites instead.
    assert len(entry_mod.queries()) <= 50


def test_only_engine_reads_the_environment():
    """Deployment settings (cores, UI, driver memory, DataFrame
    debugging) are read once, in ``engine.py``; any other environment
    read is a hidden tuning option."""
    import ast
    import pathlib
    pkg = pathlib.Path(__file__).resolve().parent.parent / "rulemorph_spark"
    sites = []
    for path in sorted(pkg.rglob("*.py")):
        if path.relative_to(pkg).as_posix() == "engine.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            named = (node.attr if isinstance(node, ast.Attribute)
                     else node.id if isinstance(node, ast.Name)
                     else None)
            if named in ("environ", "environb", "getenv"):
                sites.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert sites == []


# Library defs that no program calls, kept because tests check a live
# operator against them (or read back what it writes).
_REFERENCE_DEFS = {
    "dup_span_coverage",     # remove_dup_spans
    "bloom_split",           # bloom_route
    "seed_centroids",        # kmeans_train
    "kmeans_inertia",        # kmeans_train
    "read_training_shards",  # write_training_shards
    # the reference's streaming entry point (transform.rs:93-190)
    "transform_stream",
    "transform_stream_files",
}
# functions/diag.py helpers only tests call; the run report (ROADMAP
# direction 5) gives them a caller or deletes them.
_DIAG_DEFS = {"partition_skew", "key_skew", "interp_bridge_stats"}
# compiler/sqlfn.py's switch for the SQL-function fast path: the
# cross-path parity tests run each rule with it off and on
_SQLFN_SWITCH = {"enable", "disable", "registered_names"}
# decorators that register an op: the registry, not a name, calls it
_REGISTERING = {"register", "_treg"}


def test_library_defs_have_program_callers():
    """Every public top-level def in ``llm/``, ``functions/``,
    ``service/``, ``compiler/``, ``streaming/``, ``sources/`` and
    ``interp.py`` is reached from a program — the rest of the package
    (engine, CLI, model, validator, ...), ``__spark_entry__.py``,
    ``bench.py``, ``perfbench/`` or ``scripts/`` — or is named above.  Reachability is by name through
    the library's own bodies; a def an op-registering decorator wraps
    is reached.  ``__init__`` re-exports, ``__all__`` and docstrings do
    not count.  An operator only tests call is code to maintain with no
    user."""
    import ast
    import pathlib
    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "rulemorph_spark"
    libs = (pkg / "llm", pkg / "functions", pkg / "service",
            pkg / "compiler", pkg / "streaming", pkg / "sources",
            pkg / "interp.py")
    programs = ([*pkg.rglob("*.py"), root / "__spark_entry__.py",
                 root / "bench.py", *(root / "scripts").glob("*.py")]
                + [p for p in (root / "perfbench").rglob("*.py")
                   if "tests" not in p.parts])

    def names(node, alias):
        return {alias.get(n.id, n.id) if isinstance(n, ast.Name)
                else n.attr for n in ast.walk(node)
                if isinstance(n, (ast.Name, ast.Attribute))}

    def registers(st):
        for d in getattr(st, "decorator_list", ()):
            f = d.func if isinstance(d, ast.Call) else d
            if isinstance(f, ast.Name) and f.id in _REGISTERING:
                return True
        return False

    reached, uses, public = set(), {}, set()
    for path in programs:
        tree = ast.parse(path.read_text(encoding="utf-8"))
        alias = {a.asname: a.name.rsplit(".", 1)[-1]
                 for n in ast.walk(tree)
                 if isinstance(n, (ast.Import, ast.ImportFrom))
                 for a in n.names if a.asname}
        in_lib = any(d == path or d in path.parents for d in libs)
        if path.name == "__init__.py" and in_lib:
            continue  # re-exports only
        for st in tree.body:
            if isinstance(st, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(st, ast.Assign) and any(
                    isinstance(t, ast.Name) and t.id == "__all__"
                    for t in st.targets):
                continue
            defined = ([st.name] if isinstance(
                st, (ast.FunctionDef, ast.ClassDef)) else
                [t.id for t in getattr(st, "targets", [])
                 if isinstance(t, ast.Name)])
            if in_lib and defined:
                for name in defined:
                    uses.setdefault(name, set()).update(names(st, alias))
                if registers(st):
                    reached.add(st.name)
                if isinstance(st, ast.FunctionDef) and \
                        not st.name.startswith("_"):
                    public.add(f"{path.relative_to(pkg)}:{st.name}")
            else:
                reached |= names(st, alias)
    todo = list(reached)
    while todo:
        for name in uses.get(todo.pop(), ()):
            if name not in reached:
                reached.add(name)
                todo.append(name)
    keep = _REFERENCE_DEFS | _DIAG_DEFS | _SQLFN_SWITCH
    unused = sorted(d for d in public
                    if d.rsplit(":", 1)[1] not in reached | keep)
    assert unused == []


def test_agg_cents_equivalence(spark):
    """r9: the cents-based q_agg_pricing_summary must be bit-identical
    to the original decimal(18,2)-sum formulation on every SF the
    driver checks (the money columns are 2-decimal by data contract,
    so integer-cents sums + one exact decimal division per group
    reproduce the decimal semantics exactly)."""
    from pyspark.sql import functions as F

    def legacy(li):
        dec = lambda c: F.col(c).cast("decimal(18,2)")
        return (li.filter(F.col("l_shipdate") <= "1998-09-02")
                .groupBy("l_returnflag", "l_linestatus")
                .agg(F.sum(dec("l_quantity")).cast("double")
                     .alias("sum_qty"),
                     F.sum(dec("l_extendedprice")).cast("double")
                     .alias("sum_base_price"),
                     F.sum(dec("l_extendedprice") *
                           (F.lit(1).cast("decimal(18,2)")
                            - dec("l_discount"))).cast("double")
                     .alias("sum_disc_price"),
                     F.count("*").alias("count_order"))
                .orderBy("l_returnflag", "l_linestatus"))

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        # per-row premise: round(x*100) == decimal(18,2) unscaled cents
        bad = li.filter(
            (F.round(F.col("l_quantity") * 100).cast("long") !=
             (F.col("l_quantity").cast("decimal(18,2)") * 100)
             .cast("long")) |
            (F.round(F.col("l_extendedprice") * 100).cast("long") !=
             (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
             .cast("long")) |
            (F.round(F.col("l_discount") * 100).cast("long") !=
             (F.col("l_discount").cast("decimal(18,2)") * 100)
             .cast("long"))).count()
        assert bad == 0, sf_dir
        got = entry_mod.q_agg_pricing_summary(spark, sf_dir).collect()
        want = legacy(li).collect()
        assert got == want, sf_dir
