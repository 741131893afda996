"""Input-domain guards raise real exceptions: ``python -O`` strips
``assert`` statements, so a bound the package relies on must be an ``if``
that raises, or it silently disappears in optimized runs."""

from __future__ import annotations

import ast
import os

import pytest

from simple_stream_processor_spark.operators import dedup
from simple_stream_processor_spark.queries_relational_ext import q_equidepth_hist
from test_r10_session2_internals import _EDGE, _materialize_lineitem, _mk_lineitem

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "simple_stream_processor_spark")


def test_package_code_has_no_assert_statements():
    found = []
    for root, _, files in os.walk(_PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as f:
                    tree = ast.parse(f.read(), path)
                found += [f"{os.path.relpath(path, _PKG)}:{n.lineno}" for n in ast.walk(tree) if isinstance(n, ast.Assert)]
    assert found == []


def test_equidepth_coarse_histogram_bound_raises(spark, tmp_path):
    # one price per 65536-cent coarse cell: 4097 cells, one past the bound
    rows = [(1 + i, 1 + i, round(_EDGE * i + 1.0, 2)) for i in range(4097)]
    sf = _materialize_lineitem(str(tmp_path), _mk_lineitem(rows))
    with pytest.raises(ValueError, match="outgrew its radix width"):
        q_equidepth_hist(spark, sf)


def test_minhash_signature_width_bound_raises(spark, sf_dir):
    from simple_stream_processor_spark.tables import load_table

    sh = dedup.shingle_table(load_table(spark, "documents", sf_dir))
    assert len(dedup.minhash_signatures(sh, n_hashes=8).columns) == 9
    with pytest.raises(ValueError, match="n_hashes=9"):
        dedup.minhash_signatures(sh, n_hashes=9)
