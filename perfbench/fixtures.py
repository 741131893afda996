"""The tables the benchmark's queries read.

They are the package's own test data: the parquet tables under the directory
whose ``sf0.1`` child ``simple_stream_processor_spark.tables`` reads by
default (``DEFAULT_SF_DIR``), at two scales, ``sf0.1`` and ``sf0.01``.  The
same files back the repository's tests, its oracle gate and ``bench.py``.
The benchmark never writes them: before a run uses a scale, every table file
is checked against ``fixture_digests.json``, so a run on other data fails
instead of being compared with runs on this data.
"""

from __future__ import annotations

import hashlib
import json
import os

DIGEST_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture_digests.json")


def root() -> str:
    from simple_stream_processor_spark import tables

    return os.path.dirname(tables.DEFAULT_SF_DIR)


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def checked_dir(label: str) -> str:
    """The directory of scale ``label``, after checking every pinned table
    file in it; raises if one is missing or differs."""
    sf_dir = os.path.join(root(), label)
    with open(DIGEST_FILE) as f:
        want = json.load(f)[label]
    bad = sorted(t for t, digest in want.items() if not os.path.isfile(p := os.path.join(sf_dir, f"{t}.parquet")) or file_digest(p) != digest)
    if bad:
        raise RuntimeError(f"fixture {label} at {sf_dir}: missing or not the pinned data: {bad}")
    return sf_dir
