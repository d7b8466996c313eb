"""The benchmark's own tests: seeded inputs, the oracle's failure path, the
trace coverage check, and the refusal to run without the package.

    python3 -m pytest cityperf/test_cityperf.py -q -p no:cacheprovider

The tamper test starts Spark and takes about a minute.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from cityperf import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _generate(seed: int, root: str) -> None:
    gen.generate_lifecycle(seed, os.path.join(root, "lifecycle"))
    gen.generate_events(seed, os.path.join(root, "events"))
    gen.generate_corpus(seed, os.path.join(root, "corpus"))


def _files(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, n), root)
                  for d, _dirs, names in os.walk(root) for n in names)


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _rows(path: str) -> int:
    if path.endswith(".parquet"):
        return pq.ParquetFile(path).metadata.num_rows
    with open(path) as f:
        return sum(1 for _ in f)


def test_same_seed_gives_identical_inputs(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _generate(7, a)
    _generate(7, b)
    assert _files(a) == _files(b)
    for rel in _files(a):
        assert _digest(os.path.join(a, rel)) == _digest(os.path.join(b, rel)), rel


def test_other_seed_gives_same_row_counts(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _generate(7, a)
    _generate(8, b)
    assert _files(a) == _files(b)
    for rel in _files(a):
        pa_, pb = os.path.join(a, rel), os.path.join(b, rel)
        assert _rows(pa_) == _rows(pb), rel
        if not rel.endswith("nation.parquet"):  # the 25 nations are fixed
            assert _digest(pa_) != _digest(pb), rel


def test_span_gap_lowers_trace_coverage():
    from cityperf.run import LAYER_SPANS, MIN_COVERAGE
    from cityperf.trace import Span, coverage, layer_ms

    def cov(spans):
        return coverage(layer_ms([Span(layer, "", f"g{i}", t0, t1)
                                  for i, (layer, t0, t1) in enumerate(spans)],
                                 LAYER_SPANS), 2.0)

    assert cov([("sources.read", 0.0, 1.0), ("etl.collect", 1.0, 2.0)]) == pytest.approx(1.0)
    gap = cov([("sources.read", 0.0, 1.0), ("etl.collect", 1.5, 2.0)])
    assert gap == pytest.approx(0.75) and gap < MIN_COVERAGE
    unmapped = cov([("sources.read", 0.0, 1.0), ("benchmark.glue", 1.0, 2.0)])
    assert unmapped == pytest.approx(0.5)


def _run(cwd: str, *extra: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "cityperf/run.py", "--workload", "corpus_search",
         "--seed", "3", "--seconds", "0", "--trace", "0", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def test_tampered_result_fails_the_run():
    proc = _run(ROOT, "--tamper")
    assert proc.returncode == 1, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] == 1 and result["attempted"] >= 2


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "cityperf"), tmp_path / "cityperf",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run(str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
