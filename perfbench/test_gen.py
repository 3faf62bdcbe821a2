"""Self-tests for the benchmark's generator and trace arithmetic.

    python3 -m pytest perfbench/test_gen.py -q

The schema test compares against the fixture directory named by
``SPARK_GRAFT_SF_DIR`` (the package's default when unset) and is
skipped when that directory is absent.
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import Tracer, union_seconds  # noqa: E402


def _write(tmp_path, workload: str, seed: int, tag: str) -> dict[str, bytes]:
    out = tmp_path / f"{workload}-{seed}-{tag}"
    gen.write_inputs(workload, seed, str(out))
    return {p.name: p.read_bytes() for p in sorted(out.iterdir())}


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_same_seed_gives_identical_bytes(tmp_path, workload):
    assert _write(tmp_path, workload, 7, "a") == _write(tmp_path, workload, 7, "b")


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_other_seed_changes_every_table(tmp_path, workload):
    a, b = _write(tmp_path, workload, 7, "a"), _write(tmp_path, workload, 8, "b")
    assert a.keys() == b.keys()
    assert all(a[name] != b[name] for name in a)


def _fixture_dir() -> str:
    sys.path.insert(0, os.path.dirname(HERE))
    from my_mapreduce_spark.io import DEFAULT_SF_DIR

    return DEFAULT_SF_DIR


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_schemas_equal_fixture_schemas(workload):
    fixtures = _fixture_dir()
    if not os.path.isdir(fixtures):
        pytest.skip(f"no fixture directory at {fixtures}")
    for name, table in gen.build_tables(workload, 1).items():
        want = pq.read_schema(os.path.join(fixtures, f"{name}.parquet"))
        assert table.schema.equals(want, check_metadata=False), name


def test_union_seconds_merges_overlaps():
    assert union_seconds([]) == 0.0
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_seconds([(5, 6), (0, 10)]) == 10.0


def test_self_time_excludes_children():
    t = Tracer("r", enabled=True)
    with t.span("queries.body"):
        with t.span("io.load_table"):
            pass
    body, load = t.spans
    # pin the clock readings so the arithmetic is exact
    body.update(start=0.0, end=3.0)
    load.update(start=1.0, end=2.0)
    assert t.self_times() == {"queries": 2.0, "io": 1.0}
