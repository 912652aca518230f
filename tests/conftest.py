from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _enable_protobuf_shim() -> None:
    """If no protobuf is installed, materialize the pure-python shim
    (tools/vendor_protobuf.py) and expose it to BOTH this process and
    the forked Python workers (PYTHONPATH) — this must run before any
    SparkSession starts and before test modules evaluate their skipif
    gates, which is why it lives at conftest import time."""
    try:
        import google.protobuf  # noqa: F401

        return
    except ImportError:
        pass
    import os

    from tools.vendor_protobuf import build

    root = build()
    if root is None:
        return  # no local source to vendor from — tests keep skipping
    # APPEND, never prepend: the shim must only fill the gap, not take
    # precedence over anything actually installed (its google/ is a
    # namespace portion, so it merges with other google.* packages)
    sys.path.append(root)
    prev = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = f"{prev}{os.pathsep}{root}" if prev else root


_enable_protobuf_shim()

from de_project_sprint_etl_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session", autouse=True)
def _drop_tmp_artifacts(tmp_path_factory):
    """Derived artifacts of fixtures copied into this session's pytest
    tmp dirs live under ``.cache/derived/<key>-<digest>``, keyed as
    ``artifacts.path`` keys them; remove them at session end so the
    shared cache does not grow with every run. Artifacts of the real
    fixture dirs are keyed outside the basetemp and stay."""
    yield
    from de_project_sprint_etl_spark.plans import artifacts

    key = str(tmp_path_factory.getbasetemp()).strip("/").replace("/", "_")
    for d in artifacts.ROOT.glob(f"{key}_*"):
        shutil.rmtree(d, ignore_errors=True)
