"""The benchmark's own tests: generator determinism, trace sanity, and a
tiny-scale smoke run of each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
import threading
import time
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
from spans import Tracer  # noqa: E402


def _md5(path: Path) -> str:
    return hashlib.md5(path.read_bytes()).hexdigest()


def test_same_seed_gives_byte_identical_snapshots(tmp_path):
    digests = []
    for run in range(2):
        table = gen.SourceTable(5_000, seed=7)
        table.write_snapshot(str(tmp_path / f"{run}-0.parquet"))
        table.tick(100, 40, 20)
        table.write_snapshot(str(tmp_path / f"{run}-1.parquet"))
        table.write_batch(str(tmp_path / f"{run}-b.parquet"))
        digests.append([_md5(tmp_path / f"{run}-{n}.parquet") for n in ("0", "1", "b")])
    assert digests[0] == digests[1]
    other = gen.SourceTable(5_000, seed=8)
    other.write_snapshot(str(tmp_path / "other.parquet"))
    assert _md5(tmp_path / "other.parquet") != digests[0][0]


def test_tick_keeps_keys_unique_and_digest_consistent(tmp_path):
    import pyarrow.parquet as pq

    table = gen.SourceTable(3_000, seed=1)
    table.tick(200, 50, 30, recent=1_000)
    assert len(table) == 3_000 + 50 - 30
    assert len(set(table.cols["event_id"].tolist())) == len(table)
    table.write_snapshot(str(tmp_path / "s.parquet"))
    snap = pq.read_table(str(tmp_path / "s.parquet"))
    assert gen.digest(snap["event_id"].to_numpy(), snap["rv"].to_numpy()) == table.digest()
    table.write_batch(str(tmp_path / "b.parquet"))
    batch = pq.read_table(str(tmp_path / "b.parquet"))
    assert batch.num_rows == 250  # 200 corrections + 50 inserts; deletes leave no row


def test_self_times_sum_to_no_more_than_op_wall_time():
    tracer = Tracer()

    def pool_work():
        with tracer.span("pool"):
            time.sleep(0.02)

    with tracer.op("load") as root:
        with tracer.span("outer"):
            with tracer.span("inner"):
                time.sleep(0.01)
            workers = [threading.Thread(target=pool_work) for _ in range(3)]
            for w in workers:
                w.start()
            for w in workers:
                w.join(timeout=5)
            assert not any(w.is_alive() for w in workers)
    selfs = tracer.self_times(root.op)
    wall = root.end - root.start
    assert sum(selfs.values()) <= wall + 1e-9
    names = {s.id: s.name for s in tracer.spans}
    pool = [s for s in tracer.spans if s.name == "pool"]
    assert all(s.parent == root.id for s in pool)  # pool threads attach to the root
    assert sum(selfs[s.id] for s in pool) > 0.015
    assert selfs[[i for i, n in names.items() if n == "inner"][0]] > 0.009


@pytest.mark.parametrize("workload,trace", [("trickle", 0), ("stream", 1)])
def test_smoke_run(tmp_path, workload, trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    spans_out = tmp_path / "spans.json"
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", "0", "--trace", str(trace), "--rows", "2000"]
    if trace:
        cmd += ["--spans-out", str(spans_out)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    expected = spec["per_layer"] if trace else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in expected} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
        return
    dump = json.loads(spans_out.read_text())
    layers_seen = {s["name"].split(".")[0] for s in dump["spans"]}
    assert {"plans", "destination", "sources", "tablestore", "streaming"} <= layers_seen
    assert dump["spark"] and all(rec["jobs"] > 0 for rec in dump["spark"])
    by_op: dict[int, list[dict]] = {}
    for s in dump["spans"]:
        by_op.setdefault(s["op"], []).append(s)
    tracer = Tracer()
    for _, op in dump["measured_ops"]:
        root = min(by_op[op], key=lambda s: s["id"])
        tracer.spans = [_span(s) for s in by_op[op]]
        assert sum(tracer.self_times(op).values()) <= root["end"] - root["start"] + 1e-6


def _span(d: dict):
    from spans import Span

    s = Span.__new__(Span)
    for k, v in d.items():
        setattr(s, k, v)
    return s
