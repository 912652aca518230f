"""Derived artifacts: named, stored pipeline stages keyed on their inputs.

A derived artifact is a table the engine computes once from fixture
tables and stores as parquet — the merged order log, the week
dimension, the mutant corpus and its shingles, the co-purchase edge
set, the PQ model, the stream sources. Every artifact lives at

    .cache/derived/<key>-<digest>/<name>

where ``<key>`` names the fixture directory and ``<digest>`` folds the
``registry.data_fingerprint`` of every fixture table the artifact's
build reads. Regenerating any one of those tables moves the digest, so
a stale stage can never be served; artifacts over the same inputs share
one directory. ``perfbench`` finds every artifact of a fixture dir by
the ``<key>-*`` glob.

``stage`` writes an artifact unless its ``_SUCCESS`` marker exists and
returns one memoized scan per session (``session_scoped_value``), so
repeated accessor calls hand out the same DataFrame object. ``path``
alone serves consumers that read the directory themselves (stream
sources, the partitioned IVF index, manifest views).
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from de_project_sprint_etl_spark.functions.caching import session_scoped_value
from de_project_sprint_etl_spark.plans.registry import data_fingerprint

ROOT = Path(__file__).resolve().parents[2] / ".cache" / "derived"


def path(sf_dir: str, name: str, inputs: Iterable[str]) -> Path:
    """Directory of artifact ``name`` built from the fixture tables
    ``inputs`` (names without ``.parquet``) of ``sf_dir``."""
    h = hashlib.blake2b(digest_size=8)
    for table in sorted(inputs):
        src = os.path.join(sf_dir, f"{table}.parquet")
        fp = data_fingerprint(src)
        if fp == (0,):
            raise FileNotFoundError(f"artifact {name!r} input missing: {src}")
        h.update(repr((table, fp)).encode())
    key = sf_dir.strip("/").replace("/", "_")
    return ROOT / f"{key}-{h.hexdigest()}" / name


def stage(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    inputs: Iterable[str],
    build: Callable[[], DataFrame],
    wrap: Callable[[SparkSession, DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Write ``build()`` as artifact ``name`` unless it is already
    committed, then return its scan (passed through ``wrap``, e.g.
    ``llm.fan_out``). ``inputs`` must list every fixture table
    ``build`` reads. The scan is memoized per session and keyed on the
    commit marker too, so an artifact rebuilt in place (deleted and
    staged again) is re-listed rather than served from a dead file
    listing."""
    p = path(sf_dir, name, inputs)
    marker = str(p / "_SUCCESS")
    done = data_fingerprint(marker)
    if done == (0,):
        build().write.mode("overwrite").parquet(str(p))
        done = data_fingerprint(marker)

    def scan() -> DataFrame:
        df = spark.read.parquet(str(p))
        return df if wrap is None else wrap(spark, df)

    return session_scoped_value(
        "artifacts", spark, ((sf_dir, name), str(p), *done), scan
    )
