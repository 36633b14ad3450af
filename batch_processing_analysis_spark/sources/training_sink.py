"""Training-shard sink/loader (M34 scale extension): persist a corpus
in training order as one directory per shard, files internally ordered.

The write side composes with :func:`operators.ordering.seeded_shuffle`
(which assigns ``shard``/``pos``): one hash exchange on the shard
column co-locates each shard in one task, a within-partition sort puts
rows in ``pos`` order, and ``partitionBy(shard)`` lays out
``shard=<k>/part-*.parquet`` directories. Row order inside every
output file is the training order — a sequential reader (or
``spark.read`` + ``sortWithinPartitions(pos)``) replays it exactly.

The read side gets **partition pruning** for free: filtering on
``shard`` never opens the other directories (data-loader workers each
own a shard subset — the standard distributed-training layout).
``max_records_per_file`` bounds file sizes for loader-side streaming
without breaking order (Spark splits a sorted task output into
consecutive files).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_training_shards(df: DataFrame, path: str,
                          shard_col: str = "shard", pos_col: str = "pos",
                          max_records_per_file: int | None = None) -> None:
    """Write ``df`` as ``<path>/shard=<k>/`` parquet, each shard's rows
    in ``pos`` order within and across its files.

    One shuffle (hash on ``shard_col``) + per-partition sort; no global
    sort. At 1000 executors with S ≥ executors, every task writes
    whole shards and the write is embarrassingly parallel.
    """
    writer = (
        df.repartition(F.col(shard_col))
        .sortWithinPartitions(shard_col, pos_col)
        .write.mode("overwrite")
        .partitionBy(shard_col)
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def read_training_shards(spark: SparkSession, path: str,
                         shards: Sequence[int] | None = None,
                         shard_col: str = "shard") -> DataFrame:
    """Load training shards; ``shards`` restricts to a subset via
    partition pruning (only those directories are listed/read — verify
    with ``df.inputFiles()``, asserted in tests/test_training_sink.py).
    """
    df = spark.read.parquet(path)
    if shards is not None:
        df = df.filter(F.col(shard_col).isin(list(shards)))
    return df


MANIFEST = "_MANIFEST.json"


def publish_manifest(spark: SparkSession, path: str,
                     shard_col: str = "shard", pos_col: str = "pos",
                     extra: dict | None = None) -> dict:
    """Seal a written shard directory with a MANIFEST — the
    commit-point of the training-set publish protocol:

    1. :func:`write_training_shards` lays down ``shard=<k>/`` dirs
       (crash mid-write ⇒ no manifest ⇒ consumers see nothing);
    2. this pass re-reads what landed and records, per shard, the row
       count and an ORDER-SENSITIVE content digest (md5 folded over
       the md5s of ``(pos, row-hash)`` in pos order — a reordered or
       short-read shard changes the digest);
    3. the manifest JSON is written LAST, atomically (temp file +
       rename on the same filesystem).

    Consumers (:func:`load_verified_shards`) refuse directories whose
    manifest is absent or whose recount/digest disagrees — torn
    publishes and post-publish mutation both surface as hard errors,
    not silently different training runs.

    Scale: the digest pass is one shuffle-free scan per shard dir
    (rows already pos-ordered on disk) + a per-shard aggregate; the
    manifest itself is KB-sized driver JSON.
    """
    import json
    import os
    import tempfile

    df = spark.read.parquet(path)
    manifest = {
        "shards": _digest_subset(df, shard_col, pos_col),
        "columns": sorted(df.columns),
    }
    if extra:
        manifest["extra"] = extra
    fd, tmp = tempfile.mkstemp(dir=path, suffix=".manifest.tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f, sort_keys=True)
    os.replace(tmp, os.path.join(path, MANIFEST))  # atomic commit
    return manifest


def load_verified_shards(spark: SparkSession, path: str,
                         shards: Sequence[int] | None = None,
                         shard_col: str = "shard",
                         pos_col: str = "pos") -> DataFrame:
    """Manifest-checked shard loader: raises if the manifest is
    missing, a requested shard is unlisted, or the on-disk rows no
    longer match the sealed count+digest (see
    :func:`publish_manifest`)."""
    import json
    import os

    mpath = os.path.join(path, MANIFEST)
    if not os.path.exists(mpath):
        raise FileNotFoundError(
            f"no {MANIFEST} in {path}: unpublished or torn write"
        )
    with open(mpath) as f:
        manifest = json.load(f)
    want = (
        {str(s) for s in shards}
        if shards is not None
        else set(manifest["shards"])
    )
    missing = want - set(manifest["shards"])
    if missing:
        raise ValueError(f"shards not in manifest: {sorted(missing)}")
    subset = spark.read.parquet(path).filter(
        F.col(shard_col).isin([int(s) for s in want])
    )
    # Re-derive count+digest for the requested subset and compare.
    fresh = _digest_subset(subset, shard_col, pos_col)
    for s in want:
        sealed = manifest["shards"][s]
        got = fresh.get(s)
        if got != {"n_rows": sealed["n_rows"], "digest": sealed["digest"]}:
            raise ValueError(
                f"shard {s} fails verification: sealed={sealed} got={got}"
            )
    return subset


def _digest_subset(df: DataFrame, shard_col: str, pos_col: str) -> dict:
    data_cols = [c for c in df.columns if c not in (shard_col, pos_col)]
    hashed = df.select(
        F.col(shard_col).cast("long").alias("_s"),
        F.col(pos_col).cast("long").alias("_p"),
        F.md5(F.concat_ws("\x1f", F.col(pos_col).cast("string"),
                          *[F.col(c).cast("string") for c in data_cols]))
        .alias("_h"),
    )
    rows = (
        hashed.groupBy("_s")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.md5(F.concat_ws(
                "", F.transform(
                    F.array_sort(F.collect_list(F.struct("_p", "_h"))),
                    lambda x: x["_h"],
                )
            )).alias("digest"),
        )
        .collect()
    )
    return {
        str(r["_s"]): {"n_rows": r["n_rows"], "digest": r["digest"]}
        for r in rows
    }
