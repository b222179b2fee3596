"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke tests start Spark (``local[4]``) on tiny inputs and take under a
minute each.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from argparse import Namespace
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import gen  # noqa: E402
from checks import (Ops, cef_headers, check_batch, check_relay,  # noqa: E402
                    check_sink)
from common import self_times  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_same_seed_same_inputs():
    a, ea = gen.batch_table(3_000, 7)
    b, eb = gen.batch_table(3_000, 7)
    c, _ = gen.batch_table(3_000, 8)
    assert a.equals(b) and ea == eb
    assert not a.equals(c)
    assert sum(ea["sinks"].values()) == ea["n_input"] == 3_000
    assert ea["sinks"][gen.FAILURE_SINK] == ea["n_failed"] > 0
    r1, r2 = gen.relay_files(2, 400, 7, 1), gen.relay_files(2, 400, 7, 1)
    assert all(x[0].equals(y[0]) and x[1] == y[1] for x, y in zip(r1, r2))
    assert str(r1[0][0].schema.field("ts").type) == "timestamp[us, tz=UTC]"


def test_expected_counts_follow_labels():
    """The generator's labels agree with the program's decoder."""
    from cefspark.parser import decode_batch

    table, expected = gen.batch_table(5_000, 3)
    out = decode_batch(table.column("text").to_pandas())
    sinks = {}
    for v, s, e in zip(out["deviceVendor"], out["severity"], out["error"]):
        key = gen.FAILURE_SINK if e is not None else gen.sink_of(v, s)
        sinks[key] = sinks.get(key, 0) + 1
    assert sinks == expected["sinks"]


class _Report:
    def __init__(self, expected):
        self.n_input = expected["n_input"]
        self.n_failed = expected["n_failed"]
        self.n_sinks = len(expected["sinks"])
        self.top_sinks = sorted(expected["sinks"].items())


def test_wrong_expected_count_fails_the_operation():
    _, expected = gen.batch_table(2_000, 5)
    report = _Report(expected)
    assert check_batch(report, expected) == []
    wrong = json.loads(json.dumps(expected))
    wrong["sinks"]["security/low"] += 1
    ops = Ops()
    ops.run("job", lambda: report, lambda r: check_batch(r, wrong))
    res, seconds = ops.run("job", lambda: report, lambda r: check_batch(r, expected))
    assert res is report and seconds >= 0
    assert (ops.attempted, ops.failed) == (2, 1)
    assert "security/low" in ops.errors[0]


def test_raising_operation_counts_as_failed():
    ops = Ops()
    assert ops.run("boom", lambda: 1 / 0, lambda r: [])[0] is None
    assert (ops.attempted, ops.failed) == (1, 1)


def _relay_commit(files, split):
    """Snapshots as the sink would commit ``files``, ``split`` files each."""
    snaps, rows = [], {}
    for k in range(0, len(files), split):
        cols = {"conv_id": [], "turn_idx": [], "sink_id": [], "cef_line": []}
        for table, labels in files[k:k + split]:
            for cid, t in zip(table.column("conv_id").to_pylist(),
                              table.column("turn_idx").to_pylist()):
                lab = labels[cid]
                cols["conv_id"].append(cid)
                cols["turn_idx"].append(t)
                cols["sink_id"].append(gen.FAILURE_SINK if lab is None else "x")
                cols["cef_line"].append(None if lab is None else
                                        f"CEF:0|{lab[0]}|p|1|2|n|{lab[1]}|conv_id={cid}")
        sid = f"s{k}"
        snaps.append({"snapshot_id": sid, "n_rows": len(cols["conv_id"])})
        rows[sid] = cols
    return snaps, rows


def test_relay_checks_catch_missing_and_wrong_rows():
    feed = gen.relay_files(4, 200, 9)
    files = [(200, labels) for _, labels in feed]
    snaps, rows = _relay_commit(feed, 2)
    where, errors, glob = check_relay(snaps, rows, files, gen.FAILURE_SINK, 1)
    assert errors == {} and glob == [] and where == ["s0", "s0", "s2", "s2"]
    # one row lost from file 3, one re-encoded with the wrong vendor in file 0
    rows["s2"]["conv_id"].pop()
    rows["s2"]["turn_idx"].pop()
    rows["s2"]["sink_id"].pop()
    rows["s2"]["cef_line"].pop()
    i = next(j for j, line in enumerate(rows["s0"]["cef_line"]) if line)
    rows["s0"]["cef_line"][i] = rows["s0"]["cef_line"][i].replace("CEF:0|", "CEF:0|x", 1)
    _, errors, glob = check_relay(snaps, rows, files, gen.FAILURE_SINK, 1)
    assert set(errors) == {0, 3} and glob


def _write_sink(root: Path, expected: dict) -> None:
    """A sink directory laid out as Spark's partitioned write lays it out:
    one ``sink_id=<escaped value>`` directory per sink."""
    import urllib.parse

    import pyarrow as pa
    import pyarrow.parquet as pq

    for sink, n in expected["sinks"].items():
        d = root / f"sink_id={urllib.parse.quote(sink, safe='')}"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"conv_id": [f"c{i}" for i in range(n)]}),
                       d / "part-00000.parquet")
    (root / "_SUCCESS").touch()


def test_corrupted_sink_write_fails_the_operation(tmp_path):
    _, expected = gen.batch_table(2_000, 5)
    _write_sink(tmp_path / "sink", expected)
    assert check_sink([tmp_path / "sink"], expected) == []
    ops = Ops()
    # a lost sink partition, then a duplicated file
    (tmp_path / "sink" / "sink_id=security%2Flow" / "part-00000.parquet").unlink()
    ops.run("job", lambda: None, lambda _: check_sink([tmp_path / "sink"], expected))
    _write_sink(tmp_path / "sink2", expected)
    d = tmp_path / "sink2" / "sink_id=FooBar%2Fhigh"
    shutil.copy(d / "part-00000.parquet", d / "part-00001.parquet")
    ops.run("job", lambda: None, lambda _: check_sink([tmp_path / "sink2"], expected))
    ops.run("job", lambda: None, lambda _: check_sink([tmp_path / "missing"], expected))
    assert (ops.attempted, ops.failed) == (3, 3)
    assert "security/low" in ops.errors[0] and "FooBar/high" in ops.errors[1]


def test_cef_headers_unescape():
    assert cef_headers("CEF:0|a\\|b|c\\\\d|1|2|n|7|k=v")[:3] == ["0", "a|b", "c\\d"]
    assert cef_headers("not cef") == []


def test_span_self_times():
    spans = [
        dict(id=1, name="batch", start=0.0, end=10.0, parent=None),
        dict(id=2, name="commit", start=2.0, end=5.0, parent=1),
        dict(id=3, name="ledger", start=4.0, end=6.0, parent=1),    # overlaps commit
        dict(id=4, name="commit", start=9.0, end=12.0, parent=1),   # clipped at 10
        dict(id=5, name="write", start=2.5, end=3.0, parent=2),
    ]
    st = self_times(spans)
    assert st["batch"] == pytest.approx(10 - (6 - 2) - (10 - 9))
    assert st["commit"] == pytest.approx(3 - 0.5 + 3)
    assert st["ledger"] == pytest.approx(2)
    assert st["write"] == pytest.approx(0.5)


def test_spec_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    import run
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    from report import PER_LAYER
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == PER_LAYER


SMOKE = {"sink_fanout": dict(rows=3_000, tiny_rows=500),
         "relay_stream": dict(file_rows=300, warm_files=1, tiny_rows=100)}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(SMOKE))
def test_smoke(workload, trace):
    import run

    args = Namespace(workload=workload, seed=4, seconds=2, trace=trace)
    diag, result = run.execute(args, **SMOKE[workload])
    assert result["correct"] and result["failed"] == 0, diag["op_errors"]
    assert result["attempted"] >= 3
    names = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert sorted(result["metrics"]) == sorted(m["name"] for m in names)
    for m in names:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    # every printed figure is measured: none reads 0 by construction (a run
    # this small may see no garbage collection at all)
    zero = [k for k, v in result["metrics"].items()
            if not (v["value"] > 0 or k == "spark.gc_s" and v["value"] == 0)]
    assert zero == [], zero


def test_refuses_without_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "sink_fanout",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0 and p.stdout == ""
