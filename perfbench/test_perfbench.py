"""Self-tests of the benchmark. Run from the checkout root:

    python -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The Spark tests run each workload at the ``TINY`` size (a few minutes in all).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tracer import Tracer  # noqa: E402

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def test_generator_is_seeded():
    a = gen.generate_day(5, 1, 500, 10)
    b = gen.generate_day(5, 1, 500, 10)
    c = gen.generate_day(6, 1, 500, 10)
    assert a.equals(b) and not a["url"].equals(c["url"])
    assert a["url"].duplicated().sum() == 500 - int(500 * 0.99)
    assert (a["warc_ts"].dt.normalize() == a["warc_ts"].iloc[0].normalize()).all()


def test_query_mix_is_seeded_and_balanced():
    qs = workloads.make_queries(3, 2, 10, cycles=4)
    assert qs == workloads.make_queries(3, 2, 10, cycles=4)
    for i in range(4):
        assert sorted(fn for fn, _ in qs[6 * i : 6 * i + 6]) == sorted(workloads.READ_FNS)


def test_tracer_self_time_and_unwrap():
    class Box:
        @staticmethod
        def inner():
            return 1

    tr = Tracer()
    tr.wrap(Box, "inner", "box.inner")
    with tr.span("outer", op=True):
        Box.inner()
    outer, inner = tr.spans
    assert inner.parent == outer.id and inner.op == outer.id
    assert tr.self_times()[outer.id] == pytest.approx(outer.duration - inner.duration)
    tr.unwrap_all()
    Box.inner()
    assert len(tr.spans) == 2


def test_cpu_counts_descendants():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\ntime.sleep(30)"
    before = procs.tree_cpu_s()
    p = subprocess.Popen([sys.executable, "-c", burn])
    try:
        deadline = time.time() + 20
        while procs.tree_cpu_s() - before < 0.5 and time.time() < deadline:
            time.sleep(0.1)
        assert procs.tree_cpu_s() - before >= 0.5
    finally:
        p.kill()
        p.wait()


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_emits_every_metric(workload, trace):
    result, summary = run.run_workload(workload, 1, 2, bool(trace), sizes=workloads.TINY)
    spec = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == spec
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert summary["error_rate"] == 0


def test_corrupted_row_makes_error_rate_nonzero():
    def corrupt(out):
        from mimirsbrunn_spark.tables import SnapshotTable

        tbl = SnapshotTable(f"{out}/rollup_1h")
        path = tbl.snapshot(tbl.current_snapshot_id()).files[0]
        t = pq.read_table(path)
        counts = t.column("doc_count").to_pylist()
        counts[0] += 1
        i = t.schema.get_field_index("doc_count")
        pq.write_table(t.set_column(i, t.schema.field(i), [counts]), path)
        d, f = os.path.split(path)
        os.remove(os.path.join(d, f".{f}.crc"))  # Hadoop's checksum of the old bytes

    result, summary = run.run_workload(
        "publish_bulk", 1, 2, False, sizes=workloads.TINY, after_publish=corrupt
    )
    assert not result["correct"] and result["failed"] >= 1
    assert summary["error_rate"] > 0 and "rollup_1h" in summary["failures"]
