"""Versioned on-disk artifacts: the one codec for ``meta.json`` and
``centroids.json`` and the one write layout for the partitioned parquet
beside them.

Four artifact kinds use it: the IVF index, the IVF-PQ index and the
SemDeDup state (``operators.similarity``) and the BPE tokenizer
(``operators.textstats``). Each is a directory of parquet relations plus
``meta.json``, which pins a ``format_version`` so a loader refuses a
layout it does not understand instead of silently mis-reading it. The
indexes and the SemDeDup state also carry ``centroids.json``, their frozen
quantizer.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

META_FILE = "meta.json"
CENTROIDS_FILE = "centroids.json"


def cluster_for_write(df: DataFrame, key: str) -> DataFrame:
    """Pre-write clustering for a ``partitionBy(key)`` sink: one exchange
    keyed on the partition column, so each key lands in ONE file instead of
    up to (tasks x keys) tiny files, which would slow the commit and every
    later probe scan (guide §6 — compact on write). Write parallelism is
    one task per key."""
    return df.repartition(F.col(key))


def write_meta(path: str, meta: dict) -> None:
    """Write ``meta.json`` atomically (temp file + ``os.replace``): a
    reader sees the old meta or the new one, never a torn file."""
    target = os.path.join(path, META_FILE)
    tmp = target + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)
        fh.write("\n")
    os.replace(tmp, target)


def read_meta(path: str, what: str, format_version: int) -> dict:
    """Read ``meta.json`` of a ``what`` artifact. Raises ``ValueError`` when
    it is missing or garbled, or records a ``format_version`` other than
    the one this code reads."""
    try:
        with open(os.path.join(path, META_FILE)) as fh:
            meta = json.load(fh)
    except (OSError, ValueError) as exc:
        raise ValueError(
            f"{what} artifact {path} has no readable meta.json"
        ) from exc
    ver = meta.get("format_version")
    if ver != format_version:
        raise ValueError(
            f"{what} artifact {path} has format_version {ver!r}; this code"
            f" reads version {format_version}"
        )
    return meta


def write_centroids(path: str, centroids: list) -> str:
    """Write ``centroids.json`` and return its kind for ``meta.json``:
    ``"exact"`` for the exact-integer [(list_id, int_vector)] form,
    ``"float"`` for the [float_vector] form, indexed by list id."""
    exact = bool(centroids) and isinstance(centroids[0], tuple)
    payload = (
        [[int(l), [int(x) for x in c]] for l, c in centroids]
        if exact
        else [[float(x) for x in c] for c in centroids]
    )
    with open(os.path.join(path, CENTROIDS_FILE), "w") as fh:
        json.dump(payload, fh)
        fh.write("\n")
    return "exact" if exact else "float"


def read_centroids(path: str, kind: str) -> list:
    """Read ``centroids.json`` written by :func:`write_centroids` as
    ``kind``."""
    with open(os.path.join(path, CENTROIDS_FILE)) as fh:
        raw = json.load(fh)
    if kind == "exact":
        return [(int(l), [int(x) for x in c]) for l, c in raw]
    return [[float(x) for x in c] for c in raw]
