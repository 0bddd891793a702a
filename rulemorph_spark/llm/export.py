"""Trainer-ready sharded corpus export.

The last step of a pretraining-data pipeline: freeze the cleaned /
deduped / packed corpus into N shards a data loader can stream, with a
manifest that makes the export auditable (per-shard row/token counts
and content checksums) and reproducible (every assignment is a pure
function of ``(salt, id)``).

Design — deterministic two-level hashing, one shuffle:

* ``shard   = xxhash64(salt,   id)  mod n_shards`` — rerun-stable and
  independent of input partitioning; growing the corpus never moves an
  existing row to a different shard hash bucket the way a
  range-cut-of-global-rank would.
* ``__ord__ = xxhash64(salt+1, id)`` — an independent pseudo-random
  order *within* each shard, so reading shards in any order still
  yields a well-mixed stream (the property epoch shuffles need).

The physical plan is ONE hash repartition on ``shard`` + a
within-partition sort — no global sort, no range-boundary sampling, no
driver bottleneck; each shard lands as exactly one parquet file under
``shard=K/`` (hash-partitioned by the shard value itself, a shard's
rows can never straddle tasks).  At 100 TB you pick ``n_shards`` so a
shard is a few GB and every property above still holds.

Checksums are the DECIMAL-exact sum of per-row ``xxhash64`` over all
data columns — order-independent (any read order verifies), overflow-
free, and sensitive to any lost / duplicated / mutated row.

Manifest: ``<out_dir>/_manifest.json`` with totals + per-shard
``{rows, tokens?, checksum}``; :func:`verify_shards` re-derives the
stats from the written parquet and reports every divergence.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_NAME = "_manifest.json"


def _row_checksum(cols: list[str]):
    """Order-independent content checksum term: xxhash64 over every
    data column (xxhash64 natively hashes arrays/structs), summed as
    decimal(38,0) so corpus-scale sums cannot overflow.  Columns are
    name-sorted so write-time and verify-time hash identically."""
    return F.sum(F.xxhash64(*sorted(cols)).cast("decimal(38,0)"))


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def _write_text(spark: SparkSession, path: str, payload: bytes) -> None:
    fs, p, jvm = _fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{path}.tmp-{uuid.uuid4().hex}")
    stream = fs.create(tmp, True)
    try:
        stream.write(payload)
    finally:
        stream.close()
    fs.delete(p, False)
    if not fs.rename(tmp, p):
        raise IOError(f"could not commit {path}")


def _read_text(spark: SparkSession, path: str) -> bytes:
    fs, p, jvm = _fs(spark, path)
    stream = fs.open(p)
    try:
        return bytes(jvm.org.apache.commons.io.IOUtils
                     .toByteArray(stream))
    finally:
        stream.close()


def write_training_shards(df: DataFrame, out_dir: str, n_shards: int,
                          id_col: str = "doc_id",
                          token_col: str | None = None,
                          salt: int = 0) -> dict:
    """Export ``df`` as ``n_shards`` deterministic shards under
    ``out_dir`` (``shard=K/part-*.parquet``) plus ``_manifest.json``.

    Returns the manifest dict.  The data pass is one hash shuffle on
    the shard key; the manifest stats come from ONE read-back scan of
    the written files (which doubles as a write verification — the
    stats describe what is actually on disk, not what we intended).
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if id_col not in df.columns:
        raise ValueError(f"id column {id_col!r} not in {df.columns}")
    clash = [c for c in ("shard", "__ord__") if c in df.columns]
    if clash:
        raise ValueError(
            f"reserved column(s) {clash} already in input — rename them "
            "before export (withColumn would silently drop user data)")
    spark = df.sparkSession
    sid = F.col(id_col).cast("string")
    shard = F.pmod(F.xxhash64(F.lit(int(salt)), sid),
                   F.lit(int(n_shards))).cast("int")
    arranged = (df.withColumn("shard", shard)
                .withColumn("__ord__",
                            F.xxhash64(F.lit(int(salt) + 1), sid))
                .repartition(n_shards, F.col("shard"))
                .sortWithinPartitions("shard", "__ord__")
                .drop("__ord__"))
    arranged.write.partitionBy("shard").mode("errorifexists") \
        .parquet(out_dir)

    try:
        back = spark.read.parquet(out_dir)
    except Exception:  # zero-row input writes no data files
        back = arranged.limit(0)
    data_cols = [c for c in back.columns if c != "shard"]
    aggs = [F.count(F.lit(1)).alias("rows"),
            _row_checksum(data_cols).alias("checksum")]
    if token_col is not None:
        aggs.append(F.sum(F.col(token_col).cast("long")).alias("tokens"))
    stats = {int(r["shard"]): r.asDict()
             for r in back.groupBy("shard").agg(*aggs).collect()}

    shards = []
    for k in range(n_shards):
        r = stats.get(k)
        entry = {"shard": k,
                 "rows": int(r["rows"]) if r else 0,
                 "checksum": str(r["checksum"]) if r else "0"}
        if token_col is not None:
            entry["tokens"] = int(r["tokens"] or 0) if r else 0
        shards.append(entry)
    manifest = {
        "format": "parquet",
        "n_shards": n_shards,
        "id_col": id_col,
        "token_col": token_col,
        "salt": int(salt),
        "columns": data_cols,
        "total_rows": sum(s["rows"] for s in shards),
        "shards": shards,
    }
    if token_col is not None:
        manifest["total_tokens"] = sum(s["tokens"] for s in shards)
    _write_text(spark, f"{out_dir}/{MANIFEST_NAME}",
                json.dumps(manifest, ensure_ascii=False,
                           indent=1).encode("utf-8"))
    return manifest


def read_manifest(spark: SparkSession, out_dir: str) -> dict:
    return json.loads(
        _read_text(spark, f"{out_dir}/{MANIFEST_NAME}").decode("utf-8"))


def read_training_shards(spark: SparkSession, out_dir: str,
                         shards: list[int] | None = None) -> DataFrame:
    """Read an export (optionally a subset of shards — partition
    pruning keeps the scan to exactly those directories)."""
    df = spark.read.parquet(out_dir)
    if shards is not None:
        df = df.filter(F.col("shard").isin([int(s) for s in shards]))
    return df


def verify_shards(spark: SparkSession, out_dir: str) -> list[dict]:
    """Recompute every shard's rows / tokens / checksum from the
    parquet on disk and diff against the manifest.  Returns one dict
    per divergent shard (empty list ⇒ export verified)."""
    manifest = read_manifest(spark, out_dir)
    token_col = manifest.get("token_col")
    try:
        back = spark.read.parquet(out_dir)
    except Exception:  # a valid zero-row export has no data files
        back = None
    if back is not None:
        data_cols = [c for c in back.columns if c != "shard"]
        aggs = [F.count(F.lit(1)).alias("rows"),
                _row_checksum(data_cols).alias("checksum")]
        if token_col is not None:
            aggs.append(F.sum(F.col(token_col).cast("long"))
                        .alias("tokens"))
        actual = {int(r["shard"]): r.asDict()
                  for r in back.groupBy("shard").agg(*aggs).collect()}
    else:
        actual = {}
    problems = []
    for entry in manifest["shards"]:
        k = entry["shard"]
        r = actual.pop(k, None)
        got = {"rows": int(r["rows"]) if r else 0,
               "checksum": str(r["checksum"]) if r else "0"}
        if token_col is not None:
            got["tokens"] = int(r["tokens"] or 0) if r else 0
        want = {kk: entry[kk] for kk in got}
        if got != want:
            problems.append({"shard": k, "expected": want, "actual": got})
    for k, r in actual.items():  # shards on disk the manifest never saw
        problems.append({"shard": k, "expected": None,
                         "actual": {"rows": int(r["rows"])}})
    return problems
