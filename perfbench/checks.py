"""Output checks: order-insensitive digests, the digest ledger, disk usage.

A digest is ``(row count, bit_xor of the first 60 bits of md5(to_json(row)))``
over a DataFrame: it ignores row order and partitioning but changes with any
value. The ledger keeps the digests of each ``(workload, seed, scale)`` in
one file per key, so a later run of the same seed must reproduce them.
"""

from __future__ import annotations

import json
import os


def _digest(df) -> list:
    """The ``(rows, digest)`` aggregate columns of ``df``."""
    from pyspark.sql import functions as F

    h = F.md5(F.to_json(F.struct(*[F.col(f"`{c}`") for c in df.columns])))
    h = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    return [F.count(F.lit(1)).alias("n"), F.coalesce(F.bit_xor(h), F.lit(0)).alias("d")]


def digest_sink(df) -> tuple[int, int]:
    """Materialize ``df`` through a digest aggregate (one job; every output
    column is read, as a noop write would) and return ``(rows, digest)``."""
    row = df.agg(*_digest(df)).collect()[0]
    return int(row["n"]), int(row["d"])


def digest_tables(frames: dict) -> dict[str, tuple[int, int]]:
    """Digests of several DataFrames in one Spark job (a union of one-row
    aggregates)."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = [df.agg(F.lit(name).alias("t"), *_digest(df)) for name, df in frames.items()]
    rows = reduce(lambda a, b: a.unionByName(b), parts).collect()
    return {r["t"]: (int(r["n"]), int(r["d"])) for r in rows}


def ledger_compare(path: str, digests: dict[str, tuple[int, int]]) -> list[str]:
    """Compare with the digests an earlier run of the same key stored at
    ``path`` (store them if there are none). Returns the mismatched names."""
    try:
        with open(path) as fh:
            old = {k: tuple(v) for k, v in json.load(fh).items()}
    except FileNotFoundError:
        old = {}
    bad = [k for k, v in digests.items() if k in old and old[k] != tuple(v)]
    if not bad:
        merged = {**old, **{k: list(v) for k, v in digests.items()}}
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(merged, fh, sort_keys=True)
        os.replace(tmp, path)
    return bad


def disk_usage(path: str, data_only: bool = False) -> tuple[int, int]:
    """``(bytes, files)`` under ``path``; ``data_only`` counts only data
    files (no ``.crc`` checksums, ``_SUCCESS`` markers or schema sidecars)."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if data_only and (n.startswith((".", "_")) or n.endswith(".schema")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files
