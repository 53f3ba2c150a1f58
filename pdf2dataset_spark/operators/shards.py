"""Training-shard materialization (tier F: the f22 assignment made
physical).

`f22_token_shard_packing` computes a deterministic doc→shard map by
token budget; this module writes it out the way a training job reads
it: one parquet directory per shard (`partitionBy(shard_id)` — the
files ARE the shards, so a loader reads shard k with one partition-
pruned scan) plus a one-row-per-shard **manifest** (doc count, token
count, id range) that a data-mix recipe can audit without touching
the data.

Scale posture: partitionBy writes each shard from the tasks that hold
its rows — no extra shuffle beyond the upstream assignment window;
the manifest is one narrow aggregation. Both are pure DataFrame ops.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf2dataset_spark.worker import setup_task


def write_shards(
    df: DataFrame,
    out_path: str,
    shard_col: str = "shard_id",
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
) -> None:
    """Write shard-partitioned data + manifest under ``out_path``
    (``data/shard_id=K/`` directories and ``manifest/``)."""
    df.write.partitionBy(shard_col).mode("overwrite").parquet(
        os.path.join(out_path, "data")
    )
    manifest = df.groupBy(shard_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_col).alias("n_tokens"),
        F.min(id_col).alias("min_id"),
        F.max(id_col).alias("max_id"),
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_path, "manifest")
    )


def read_manifest(spark: SparkSession, out_path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_path, "manifest"))


def read_shard(
    spark: SparkSession, out_path: str, shard_id: int, shard_col: str = "shard_id"
) -> DataFrame:
    """One shard via partition pruning (the loader-side contract)."""
    return spark.read.parquet(os.path.join(out_path, "data")).filter(
        F.col(shard_col) == shard_id
    )


# ------------------------------------------------------------ WebDataset
def write_webdataset(
    df: DataFrame,
    out_path: str,
    columns: dict[str, str],
    key_col: str = "doc_id",
    n_shards: int = 16,
    shard_col: str | None = None,
) -> DataFrame:
    """Materialize samples as **WebDataset** tar shards — the de-facto
    sequential-IO format for multimodal training loaders: each shard is
    a POSIX tar whose members are named ``{key}.{ext}``, consecutive
    members with the same key form one sample, and loaders stream
    shards with pure sequential reads (no per-sample seeks).

    ``columns`` maps extension → source column (e.g. ``{"txt": "text",
    "jpg": "image_bin"}``); str payloads write UTF-8, binary write raw,
    NULLs skip that member. Sharding is ``xxhash64(key) % n_shards``
    unless ``shard_col`` names a precomputed assignment (e.g. f22's
    token-budget packing). Each shard group builds its tar in memory
    inside one ``applyInPandas`` task and writes through
    ``pyarrow.fs.FileSystem.from_uri`` (local / s3 / hdfs URIs alike),
    so size shards to executor memory — the WebDataset norm of
    100 MB–1 GB per shard is fine at typical executor sizing.

    Tar bytes are DETERMINISTIC: members sorted by (key, ext order as
    given), zeroed mtime/uid/gid/uname — two writes of the same data
    are byte-identical (sha256 recorded in the returned manifest, which
    is also written under ``out_path/manifest``).

    Returns the manifest DataFrame: (shard_id, path, n_samples,
    n_members, n_bytes, sha256).
    """
    spark = df.sparkSession
    exts = list(columns)
    src_cols = [columns[e] for e in exts]
    if shard_col is None:
        assigned = df.select(
            F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards))
            .cast("int")
            .alias("__shard"),
            F.col(key_col).alias("__key"),
            *[F.col(c) for c in src_cols],
        )
    else:
        assigned = df.select(
            F.col(shard_col).cast("int").alias("__shard"),
            F.col(key_col).alias("__key"),
            *[F.col(c) for c in src_cols],
        )

    def write_shard(pdf):
        setup_task()
        import hashlib
        import io
        import tarfile

        import pandas as pd
        from pyarrow import fs as pafs

        shard = int(pdf["__shard"].iloc[0])
        pdf = pdf.sort_values("__key", kind="mergesort")
        buf = io.BytesIO()
        n_members = 0
        with tarfile.open(fileobj=buf, mode="w") as tar:
            for _, row in pdf.iterrows():
                for ext, col in zip(exts, src_cols):
                    v = row[col]
                    if v is None or (isinstance(v, float) and pd.isna(v)):
                        continue
                    payload = (
                        v.encode("utf-8") if isinstance(v, str) else bytes(v)
                    )
                    info = tarfile.TarInfo(name=f"{row['__key']}.{ext}")
                    info.size = len(payload)
                    info.mtime = 0
                    info.uid = info.gid = 0
                    info.uname = info.gname = ""
                    tar.addfile(info, io.BytesIO(payload))
                    n_members += 1
        data = buf.getvalue()
        name = f"shard-{shard:06d}.tar"
        filesystem, base = pafs.FileSystem.from_uri(out_path)
        filesystem.create_dir(base, recursive=True)
        with filesystem.open_output_stream(f"{base}/{name}") as f:
            f.write(data)
        return pd.DataFrame(
            {
                "shard_id": [shard],
                "path": [f"{out_path.rstrip('/')}/{name}"],
                "n_samples": [len(pdf)],
                "n_members": [n_members],
                "n_bytes": [len(data)],
                "sha256": [hashlib.sha256(data).hexdigest()],
            }
        )

    manifest = (
        assigned.groupBy("__shard")
        .applyInPandas(
            write_shard,
            "shard_id int, path string, n_samples long, n_members long, "
            "n_bytes long, sha256 string",
        )
        .persist()
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_path, "manifest")
    )
    return manifest


def read_webdataset(spark: SparkSession, path: str) -> DataFrame:
    """Stream WebDataset shards back as rows (shard path, member key,
    ext, payload binary): binaryFile scan of the tars + an Arrow-
    batched untar — the loader-side contract, embarrassingly parallel
    at one task per shard."""
    files = spark.read.format("binaryFile").load(
        os.path.join(path, "*.tar")
    )

    def untar(batches):
        setup_task()
        import io
        import tarfile

        import pandas as pd

        for pdf in batches:
            for _, row in pdf.iterrows():
                keys, exts, payloads = [], [], []
                with tarfile.open(
                    fileobj=io.BytesIO(row["content"]), mode="r"
                ) as tar:
                    for m in tar.getmembers():
                        if not m.isfile():
                            continue
                        key, _, ext = m.name.rpartition(".")
                        keys.append(key)
                        exts.append(ext)
                        payloads.append(tar.extractfile(m).read())
                yield pd.DataFrame(
                    {
                        "shard_path": row["path"],
                        "key": keys,
                        "ext": exts,
                        "payload": payloads,
                    }
                )

    return files.select("path", "content").mapInPandas(
        untar, "shard_path string, key string, ext string, payload binary"
    )
