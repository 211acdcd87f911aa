"""Tests of the benchmark's own helpers. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys
import zlib

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import flowgen  # noqa: E402
import procfs  # noqa: E402
import sparkstore  # noqa: E402
from spans import Span, self_time_by_name, self_times  # noqa: E402
from stats import geomean, tail_percentile, timing_summary  # noqa: E402


@pytest.mark.parametrize(
    "n, expected",
    [
        (9, None),      # fewer than ten samples in all
        (39, None),     # p75 would leave 9.75 beyond it
        (40, 75.0),     # p75 leaves exactly 10
        (99, 75.0),     # p90 would leave 9.9
        (100, 90.0),
        (199, 90.0),
        (200, 95.0),
        (1000, 99.0),
        (9999, 99.0),
        (10000, 99.9),
    ],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_timing_summary_reports_count_median_and_tail():
    s = timing_summary(list(range(1, 101)))
    assert s["n"] == 100 and s["p50"] == 50.5
    assert s["tail_pct"] == 90.0 and s["tail"] == pytest.approx(90.1)
    assert "tail" not in timing_summary([1.0, 2.0])


def test_geomean():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert geomean([5.0]) == pytest.approx(5.0)
    assert geomean([1.0, 10.0, 100.0]) == pytest.approx(10.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        geomean([])


def _fake_proc(tmp_path, procs):
    """procs: pid -> (ppid, utime, stime, cutime, cstime, pss_kb)."""
    for pid, (ppid, ut, st, cut, cst, pss) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        # comm with a space and a ')' to exercise the parser
        fields = ["S", str(ppid)] + ["0"] * 9 + [str(ut), str(st), str(cut), str(cst)] + ["0"] * 30
        (d / "stat").write_text(f"{pid} (odd) name) " + " ".join(fields) + "\n")
        (d / "smaps_rollup").write_text(
            f"00400000-7fff [rollup]\nRss:  {pss * 2} kB\nPss:  {pss} kB\nShared_Clean: 1 kB\n"
        )
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


def test_tree_cpu_and_pss_sum_descendants_only(tmp_path):
    tck = os.sysconf("SC_CLK_TCK")
    proc = _fake_proc(
        tmp_path,
        {
            10: (1, tck, tck, 0, 0, 1024),          # root: 2 s, 1 MiB
            11: (10, 2 * tck, 0, tck, 0, 2048),     # child: 3 s incl. reaped, 2 MiB
            12: (11, 0, tck, 0, 0, 512),            # grandchild: 1 s, 0.5 MiB
            20: (1, 50 * tck, 0, 0, 0, 9999),       # unrelated
        },
    )
    assert sorted(procfs.tree_pids(10, proc)) == [10, 11, 12]
    assert procfs.process_cpu_s(11, proc) == pytest.approx(3.0)
    assert procfs.tree_cpu_s(10, proc) == pytest.approx(6.0)
    assert procfs.pss_kb(12, proc) == 512
    assert procfs.tree_pss_mb(10, proc) == pytest.approx(3.5)


def test_jit_cpu_counts_only_compiler_threads(tmp_path):
    tck = os.sysconf("SC_CLK_TCK")
    proc = _fake_proc(tmp_path, {10: (1, 0, 0, 0, 0, 1), 11: (10, 0, 0, 0, 0, 1)})
    for tid, comm, ticks in ((11, "java", 50), (12, "C2 CompilerThre", 3), (13, "C1 CompilerThre", 1), (14, "GC Thread#0", 7)):
        d = tmp_path / "11" / "task" / str(tid)
        d.mkdir(parents=True)
        (d / "comm").write_text(comm + "\n")
        fields = ["S", "10"] + ["0"] * 9 + [str(ticks * tck), str(ticks * tck)] + ["0"] * 30
        (d / "stat").write_text(f"{tid} ({comm}) " + " ".join(fields) + "\n")
    assert procfs.jit_cpu_s(10, proc) == pytest.approx(8.0)


def test_host_readers(tmp_path):
    (tmp_path / "stat").write_text("cpu  100 0 50 800 10 0 0 40 0 0\ncpu0 1 2 3\n")
    (tmp_path / "loadavg").write_text("1.50 0.90 0.40 1/104 15973\n")
    (tmp_path / "pressure").mkdir()
    (tmp_path / "pressure" / "cpu").write_text(
        "some avg10=2.50 avg60=1.61 avg300=1.23 total=6586875\nfull avg10=0.00 avg60=0.00 avg300=0.00 total=0\n"
    )
    before = procfs.cpu_times(str(tmp_path))
    after = [b + d for b, d in zip(before, [60, 0, 20, 100, 0, 0, 0, 20, 0, 0])]
    assert procfs.steal_share(before, after) == pytest.approx(0.1)
    assert procfs.cpu_pressure_some_avg10(str(tmp_path)) == 2.5
    assert procfs.cpu_pressure_some_avg10(str(tmp_path / "missing")) is None
    assert procfs.loadavg_1m(str(tmp_path)) == 1.5


def test_readers_on_this_process():
    pid = os.getpid()
    assert procfs.tree_cpu_s(pid) > 0
    assert procfs.tree_pss_mb(pid) > 1


def test_self_time_subtracts_children_once():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),      # overlaps a: union 1..6 = 5
        Span("a.child", 2.0, 3.0, parent=1),
        Span("late", 9.0, 12.0, parent=0),  # clipped to the parent: 1
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(3.0)
    by_name = self_time_by_name(spans + [Span("a", 20.0, 21.0)])
    assert by_name["a"] == pytest.approx(3.0)
    # without overlapping siblings, self times add up to the root's wall
    nested = [spans[0], spans[1], spans[3]]
    nested[2] = Span("a.child", 2.0, 3.0, parent=1)
    assert math.isclose(sum(self_times(nested)), 10.0)


@pytest.mark.parametrize(
    "text, value",
    [
        ("1,234", 1234.0),
        ("0.0 B", 0.0),
        ("2.0 KiB", 2048.0),
        ("total (min, med, max (stageId: taskId))\n1.5 MiB (1 KiB, 2 KiB, 3 KiB (stage 0.0: task 3))", 1.5 * (1 << 20)),
        ("total (min, med, max (stageId: taskId))\n14.0 s (3.4 s, 3.6 s, 3.6 s (stage 0.0: task 0))", 14000.0),
        ("34 ms", 34.0),
    ],
)
def test_parse_metric(text, value):
    assert sparkstore.parse_metric(text) == pytest.approx(value)


def test_generator_is_seeded_and_counts_edge_cases():
    start = np.arange(5000, dtype=np.int64) + 1_700_000_000_000
    a_lines, a = flowgen.flow_lines(np.random.default_rng(7), 5000, start)
    b_lines, b = flowgen.flow_lines(np.random.default_rng(7), 5000, start)
    assert a_lines == b_lines and a == b
    assert a["rows"] + a["dropped"] == 5000
    assert 20 <= a["dropped"] <= 100  # about 1% malformed
    assert a["no_k8s"] > 0
    assert sum('"Bytes"' not in line for line in a_lines) > a["dropped"]  # counters missing too
    assert any('"IfDirections"' in line for line in a_lines)  # unknown extra fields
    assert all("\n" not in line for line in a_lines)


def test_generator_expectation_matches_its_lines():
    """The aggregates the sink check compares against, recomputed by parsing
    the lines: a missing field is "" or 0, a line that is not a JSON object
    with numeric times is dropped."""
    start = np.arange(3000, dtype=np.int64) + flowgen.T0_MS
    lines, expect = flowgen.flow_lines(np.random.default_rng(3), 3000, start)
    strings = {"SrcAddr": "src_ip", "DstAddr": "dst_ip", "SrcK8S_Name": "src_name",
               "DstK8S_Name": "dst_name", "SrcK8S_Type": "src_kind", "DstK8S_Type": "dst_kind",
               "SrcK8S_Namespace": "src_namespace", "DstK8S_Namespace": "dst_namespace"}
    got = dict.fromkeys(expect, 0)
    for line in lines:
        try:
            m = json.loads(line)
        except ValueError:
            m = None
        if not isinstance(m, dict) or not isinstance(m.get("TimeFlowStartMs"), int):
            got["dropped"] += 1
            continue
        got["rows"] += 1
        got["sum_bytes"] += m.get("Bytes", 0)
        got["sum_packets"] += m.get("Packets", 0)
        got["sum_start_off"] += m["TimeFlowStartMs"] - flowgen.T0_MS
        got["sum_end_off"] += m["TimeFlowEndMs"] - flowgen.T0_MS
        got["no_k8s"] += m.get("SrcK8S_Type", "") == ""
        for key, col in strings.items():
            got[f"crc_{col}"] += zlib.crc32(m.get(key, "").encode())
    assert got == expect


def test_layer_map_covers_the_per_layer_metrics():
    import run

    assert set(run.LAYER_MAP) == set(run.LAYER_UNITS)
    assert set(run.END_TO_END_UNITS) == {"setup_s", "op_wall_ms", "op_cpu_ms", "peak_pss_mb"}
