"""The in-process (batch) workloads: table_rules, ndjson_transform,
corpus_ops, and batch (the three of them in one process).  The
service_requests workload lives in ``service.py``.

Each workload generates its inputs from the seed (``prepare``), builds
its DataFrames and runs one warm-up pass on a fresh session
(``setup``), runs one pass of fixed work (``run_pass``), and checks its
outputs (``check`` → (attempted, failed)).
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import sys
import time

import yaml

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures")

# rows per input at each scale; "tiny" is the self-test size
SIZES = {
    "default": {"lineitem": 12_000, "docs": 300,
                "ndjson": 200, "ndjson_limit": 50, "corpus_docs": 400,
                "embeddings": 400, "bm25_queries": 2},
    "tiny": {"lineitem": 2_000, "docs": 200,
             "ndjson": 100, "ndjson_limit": 20, "corpus_docs": 200,
             "embeddings": 200, "bm25_queries": 2},
}


def fixture(*parts: str) -> str:
    path = os.path.join(FIXTURES, *parts)
    with open(path, encoding="utf-8") as fh:
        return fh.read()


def f3_context() -> dict:
    return json.loads(fixture("f3_context.json"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextlib.contextmanager
def timed(unit_s: dict, name: str):
    """Append the wall time of the block to ``unit_s[name]``: each
    operation of a pass is a sample of its own."""
    t0 = time.perf_counter()
    yield
    unit_s.setdefault(name, []).append(time.perf_counter() - t0)


def canon(v) -> str:
    """JSON text that compares JSON values: key order is ignored and an
    integral float equals the integer (43.0 == 43)."""
    return json.dumps(_fold(v), sort_keys=True)


def _fold(v):
    if isinstance(v, float) and v.is_integer():
        return int(v)
    if isinstance(v, list):
        return [_fold(x) for x in v]
    if isinstance(v, dict):
        return {k: _fold(x) for k, x in v.items()}
    return v


# --- table_rules -----------------------------------------------------------

# (name, rule file, input table); every rule is in the typed subset
TABLE_RULES = [
    ("object_nav", "object_nav.yaml", "shaped"),
    ("steps", "steps.yaml", "lineitem"),
    ("arrays", "arrays.yaml", "documents"),
]


def supplier_context() -> dict:
    """Suppliers 0..99 (ids 0, 10, .. listed twice); lineitem
    l_suppkey spans 0..119, so a sixth of the probes miss."""
    rows = [{"id": i, "name": f"Supplier#{i:04d}", "region": f"r{i % 5}"}
            for i in range(100)]
    rows += [{"id": i, "name": f"Shadow#{i:04d}", "region": "shadow"}
             for i in range(0, 100, 10)]
    return {"suppliers": rows}


class TableRules:
    name = "table_rules"

    def __init__(self):
        self.unit_s: dict[str, list[float]] = {}  # operation → samples

    def prepare(self, work: str, seed: int, size: dict) -> None:
        self.seed = seed
        self.paths = {
            "lineitem": os.path.join(work, "lineitem.parquet"),
            "documents": os.path.join(work, "documents.parquet"),
        }
        gen.lineitem(self.paths["lineitem"], seed, size["lineitem"])
        gen.documents(self.paths["documents"], seed, size["docs"])
        self.rules = {n: fixture("table", f) for n, f, _ in TABLE_RULES}
        self.context = supplier_context()

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F
        li = spark.read.parquet(self.paths["lineitem"])
        shaped = li.select(
            "*",
            F.struct(F.col("l_returnflag").alias("flag"),
                     F.col("l_linestatus").alias("status")).alias("fs"),
            F.struct(F.col("l_partkey").alias("part"),
                     F.col("l_suppkey").alias("supp")).alias("pk"),
            F.array(F.col("l_returnflag"),
                    F.col("l_linestatus")).alias("rfs"),
            F.create_map(F.lit("rf"), F.col("l_returnflag"),
                         F.lit("ls"), F.col("l_linestatus")).alias("fm"),
            F.when(F.col("l_linenumber") % 3 == 0, F.lit("ls"))
            .when(F.col("l_linenumber") % 3 == 1, F.lit("rf"))
            .otherwise(F.lit("nope")).alias("pick"))
        self.tables = {
            "lineitem": li, "shaped": shaped,
            "documents": spark.read.parquet(self.paths["documents"]),
        }
        self.run_pass()

    def _transform(self, rule: str, table: str, mode: str = "auto"):
        from rulemorph_spark.engine import transform_table
        return transform_table(self.tables[table], self.rules[rule],
                               context=self.context, mode=mode)

    def run_pass(self) -> None:
        for rule, _, table in TABLE_RULES:
            with timed(self.unit_s, f"{self.name}.{rule}"):
                _noop(self._transform(rule, table))

    def check(self):
        """The typed output of one typed rule, picked by the seed, equals
        mode="variant" on a seeded slice of its input.  mode="typed"
        raises where "auto" would fall back, so a lost typed path fails
        the check.  Over ten seeds every rule is checked; one per run
        keeps the check's variant compile small."""
        from pyspark.sql import functions as F
        rule, _, table = TABLE_RULES[self.seed % len(TABLE_RULES)]
        key = "doc_id" if table == "documents" else "l_orderkey"
        full = self.tables[table]
        self.tables[table] = full.filter(F.col(key) % 53 == self.seed % 53)
        try:
            typed = _table_rows(self._transform(rule, table, mode="typed"))
            variant = _table_rows(self._transform(rule, table,
                                                  mode="variant"))
        except Exception as exc:
            print(f"table_rules check failed on {rule}: {exc!r}",
                  file=sys.stderr)
            return 1, 1
        finally:
            self.tables[table] = full
        if typed != variant or not typed:
            print(f"table_rules check failed on {rule}", file=sys.stderr)
            return 1, 1
        return 1, 0


def _table_rows(df) -> list[str]:
    """Order-free canonical rows; typed and variant columns alike go
    through to_json."""
    from pyspark.sql import functions as F
    cols = [F.to_json(F.struct(F.col(c).alias("v"))).alias(c)
            for c in df.columns]
    return sorted(canon({k: json.loads(v).get("v")
                          for k, v in r.asDict().items()})
                  for r in df.select(*cols).collect())


# --- ndjson_transform ------------------------------------------------------


def ndjson_rule(limit: int) -> str:
    """F5 mappings + F3 lookups + a null-tolerant mapping, gated by
    record_when, with a finalize sort + limit."""
    f5 = yaml.safe_load(fixture("f5_extended.yaml"))
    f3 = yaml.safe_load(fixture("f3_lookup.yaml"))
    f3_extra = [m for m in f3["mappings"] if m["target"] != "id"]
    return yaml.safe_dump({
        "version": 2,
        "input": {"format": "json"},
        "record_when": {"gte": ["@input.score", 100]},
        "mappings": (
            [{"target": "id", "source": "id"},
             {"target": "score", "source": "score"},
             {"target": "note", "expr": ["@input.note",
                                         {"coalesce": ["none"]}]}]
            + f5["mappings"] + f3_extra),
        "finalize": {"sort": {"by": "score", "order": "desc"},
                     "limit": limit},
    }, sort_keys=False)


class NdjsonTransform:
    name = "ndjson_transform"

    def __init__(self):
        self.unit_s: dict[str, list[float]] = {}

    def prepare(self, work: str, seed: int, size: dict) -> None:
        from rulemorph_spark import interp
        self.path = os.path.join(work, "records.ndjson")
        gen.ndjson(self.path, seed, size["ndjson"])
        self.rule = ndjson_rule(size["ndjson_limit"])
        self.context = f3_context()
        # the independent oracle: the pure-Python interpreter
        with open(self.path, encoding="utf-8") as fh:
            doc = "[" + ",".join(fh.read().splitlines()) + "]"
        self.expected = canon(interp.transform(
            self.rule, input_text=doc, context=self.context))
        self.passes = self.bad = 0

    def setup(self, spark) -> None:
        self.spark = spark
        self.run_pass()

    def run_pass(self) -> None:
        from rulemorph_spark.engine import transform
        with timed(self.unit_s, self.name):
            out = transform(self.spark, self.rule, input_path=self.path,
                            context=self.context)
        self.passes += 1
        self.bad += canon(out) != self.expected

    def check(self):
        """One check: every pass, the warm-up included, matched the
        oracle."""
        if self.bad:
            print(f"ndjson_transform: {self.bad} of {self.passes} passes "
                  "differ from interp.transform", file=sys.stderr)
        return 1, int(self.bad > 0)


# --- corpus_ops -------------------------------------------------------------


class CorpusOps:
    name = "corpus_ops"
    span = None  # the tracer's span factory during a traced window

    def __init__(self):
        self.unit_s: dict[str, list[float]] = {}

    def prepare(self, work: str, seed: int, size: dict) -> None:
        self.seed = seed
        self.dir = work
        gen.documents(os.path.join(work, "documents.parquet"), seed,
                      size["corpus_docs"])
        gen.embeddings(os.path.join(work, "embeddings.parquet"), seed,
                       size["embeddings"])
        r = random.Random(seed)
        self.queries = [(i, " ".join(r.sample(gen.WORDS, 4)))
                        for i in range(size["bm25_queries"])]

    def ops(self):
        import __spark_entry__ as entry
        from rulemorph_spark.llm.dedup import remove_dup_spans
        from rulemorph_spark.llm.retrieval import bm25_search
        from rulemorph_spark.llm.semdedup import semdedup
        spark, d = self.spark, self.dir
        docs = spark.read.parquet(f"{d}/documents.parquet")
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        qdf = spark.createDataFrame(self.queries,
                                    "query_id int, query string")
        return {
            "remove_dup_spans": lambda: remove_dup_spans(docs, n=8),
            "semdedup": lambda: semdedup(emb, "vec_id", "embedding", k=8,
                                         iters=1, eps=0.05),
            "bm25_search": lambda: bm25_search(
                docs.select("doc_id", "text"), qdf, k=10),
            "q_ann_topk": lambda: entry.q_ann_topk(spark, d),
            "q_tfidf_topterms": lambda: entry.q_tfidf_topterms(spark, d),
        }

    def setup(self, spark) -> None:
        """The warm-up pass; the operator the seed picks for the check
        takes its checksums instead of the noop sink, so the check has
        its first figures without a run of its own."""
        self.spark = spark
        self._ops = self.ops()
        self.first = self.checksums(self.check_name())
        self.run_pass(skip=self.check_name())

    def check_name(self) -> str:
        return sorted(self._ops)[self.seed % len(self._ops)]

    def run_pass(self, skip: str | None = None) -> None:
        for name, fn in self._ops.items():
            if name == skip:
                continue
            with (self.span(name, "bench.op") if self.span
                  else contextlib.nullcontext()), \
                    timed(self.unit_s, f"{self.name}.{name}"):
                _noop(fn())

    def checksums(self, name: str) -> tuple:
        """Row count plus two order-free hashes of every row."""
        from pyspark.sql import functions as F
        df = self._ops[name]()
        h = F.xxhash64(*[F.col(c) for c in df.columns])
        row = df.agg(F.count("*").alias("n"), F.bit_xor(h).alias("x"),
                     F.sum(F.pmod(h, F.lit(1_000_003))).alias("s")
                     ).collect()[0]
        return row["n"], row["x"], row["s"]

    def check(self):
        """One operator, picked by the seed, gives the same row count and
        checksums after the timed passes as in the warm-up pass."""
        name = self.check_name()
        again = self.checksums(name)
        if again != self.first or again[0] == 0:
            print(f"corpus_ops check failed on {name}: {again} != "
                  f"{self.first}", file=sys.stderr)
            return 1, 1
        return 1, 0


# --- batch ----------------------------------------------------------------


class Batch:
    """table_rules, ndjson_transform and corpus_ops in one process: each
    pass runs a pass of each, in that order.  They share one JVM and
    the session's SQL functions, so a run pays one cold start for all
    three."""
    name = "batch"
    span = None  # the tracer's span factory during a traced window

    def __init__(self):
        self.parts = [TableRules(), NdjsonTransform(), CorpusOps()]
        self.unit_s: dict[str, list[float]] = {}
        for wl in self.parts:  # one set of samples for every operation
            wl.unit_s = self.unit_s

    def prepare(self, work: str, seed: int, size: dict) -> None:
        for wl in self.parts:
            wl.prepare(gen.ensure_dir(os.path.join(work, wl.name)), seed,
                       size)

    def setup(self, spark) -> None:
        for wl in self.parts:
            wl.setup(spark)

    def run_pass(self) -> None:
        for wl in self.parts:
            wl.span = self.span
            with (self.span(wl.name, "bench.part") if self.span
                  else contextlib.nullcontext()):
                wl.run_pass()

    def check(self):
        results = [wl.check() for wl in self.parts]
        return sum(a for a, _ in results), sum(f for _, f in results)


BATCH = {w.name: w for w in (TableRules, NdjsonTransform, CorpusOps, Batch)}
