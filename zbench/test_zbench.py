"""Self-tests of the benchmark's own logic.

    python3 -m pytest zbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from types import SimpleNamespace

import pytest

from zbench import oracle, procfs, summary
from zbench.spans import STAGE_FIELDS, Tracer, metric_value, union_length, with_self_time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- percentiles and the sample-count rule -----------------------------------

def test_tail_needs_ten_samples_beyond_it():
    vals = [float(i) for i in range(1, 101)]  # 100 samples
    assert summary.tail_percentile(vals, 90) == 90.0  # 10 beyond
    assert summary.tail_percentile(vals, 95) is None  # only 5 beyond
    assert summary.highest_tail(vals) == (90.0, 90.0)
    assert summary.highest_tail(vals[:5]) == (None, None)
    assert summary.tail_percentile([], 50) is None


def test_median_and_halves():
    assert summary.median([3.0, 1.0, 2.0]) == 2.0
    assert summary.halves([1.0, 2.0, 10.0, 20.0]) == (1.5, 15.0)


@pytest.mark.parametrize("n", [3, 4])
def test_median_split_sums_to_median_total(n):
    samples = [
        {"driver": 0.1 * k, "jvm": 1.0 + k, "workers": 2.0 * k, "total": 0.0}
        for k in range(n)
    ]
    for s in samples:
        s["total"] = s["driver"] + s["jvm"] + s["workers"]
    split = summary.median_split(samples)
    assert split["driver"] + split["jvm"] + split["workers"] == pytest.approx(
        summary.median([s["total"] for s in samples]))


# -- process-tree CPU --------------------------------------------------------

def _stat_line(pid, comm, ppid, ut, st, cut, cst, state="S"):
    tck = procfs.CLK_TCK
    rest = [state, ppid, 0, 0, 0, 0, 0, 0, 0, 0, 0,
            int(ut * tck), int(st * tck), int(cut * tck), int(cst * tck)]
    return f"{pid} ({comm}) " + " ".join(str(x) for x in rest) + " 20 0 1 0"


def test_parse_stat_with_odd_comm():
    ppid, comm, cpu = procfs.parse_stat(_stat_line(7, "a (b) c", 3, 1, 2, 3, 4))
    assert (ppid, comm, cpu) == (3, "a (b) c", 10.0)


def test_tree_cpu_classes_and_zombies_counted_once():
    # driver 1 -> jvm 2 -> daemon 3 -> worker 4 (zombie); 1 -> shell 5;
    # 6 is outside the tree
    snap = {
        1: (0, "python3", 1.0),
        2: (1, "java", 5.0),
        3: (2, "python3", 0.5),
        4: (3, "python3", 2.0),
        5: (1, "bash", 0.25),
        6: (0, "other", 100.0),
    }
    cpu = procfs.tree_cpu(snap, 1, 2)
    assert cpu == {"driver": 1.25, "jvm": 5.0, "workers": 2.5, "total": 8.75}
    # the zombie is reaped: its CPU moves into its parent's cutime
    reaped = dict(snap)
    del reaped[4]
    reaped[3] = (2, "python3", 2.5)
    assert procfs.tree_cpu(reaped, 1, 2) == cpu


def test_real_child_counted_once_live_zombie_and_reaped():
    code = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.3: pass\n"
    me = os.getpid()
    before = procfs.tree_cpu(procfs.snapshot(), me, None)["total"]
    child = subprocess.Popen([sys.executable, "-c", code])
    while procfs.snapshot().get(child.pid, (0, "", 0.0))[2] < 0.3:
        time.sleep(0.02)  # wait until it has burnt its CPU
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:  # exited, not yet reaped: a zombie
        with open(f"/proc/{child.pid}/stat") as f:
            if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                break
        time.sleep(0.02)
    zombie = procfs.tree_cpu(procfs.snapshot(), me, None)["total"]
    child.wait()
    reaped = procfs.tree_cpu(procfs.snapshot(), me, None)["total"]
    tick = 1.0 / procfs.CLK_TCK
    assert zombie - before >= 0.3 - tick
    # reaping moves the child's CPU into our cutime: the total must neither
    # drop nor double (our own CPU may advance by a few ticks meanwhile)
    assert zombie - 2 * tick <= reaped <= zombie + 0.1


# -- oracle comparators ------------------------------------------------------

EXP = {
    1: {"count": 4, "min": 1.0, "max": 4.0, "sum": 10.0, "mean": 2.5,
        "std": 1.118033988749895},
    2: {"count": 0, "min": None, "max": None, "sum": None, "mean": None,
        "std": None},
}
STATS = ("count", "min", "max", "sum", "mean", "std")


def _row(zid, **over):
    r = dict(EXP[zid], zone_id=zid)
    r.update(over)
    return r


def test_oracle_clean_rows_pass():
    t = oracle.compare_zonal([_row(1), _row(2)], EXP, STATS)
    assert not oracle.failed(t) and t["rows"] == 2


def test_oracle_flags_missing_duplicated_extra_and_wrong():
    rows = [_row(1), _row(1), dict(_row(1), zone_id=9)]
    t = oracle.compare_zonal(rows, EXP, STATS)
    assert (t["missing"], t["duplicated"], t["extra"]) == (1, 1, 1)
    assert oracle.failed(t)
    t = oracle.compare_zonal([_row(1, count=5, max=4.5), _row(2, mean=0.0)], EXP, STATS)
    assert t["wrong_values"] == 3


def test_oracle_tolerance_is_float64_accumulation():
    g = oracle.gamma(4)
    tol = 2 * g * 4 * 4.0 + 4 * oracle.U * 10.0
    ok = oracle.compare_zonal([_row(1, sum=10.0 + 0.9 * tol), _row(2)], EXP, STATS)
    bad = oracle.compare_zonal([_row(1, sum=10.0 + 2 * tol), _row(2)], EXP, STATS)
    assert not oracle.failed(ok) and oracle.failed(bad)
    # min and max are exact
    assert oracle.failed(oracle.compare_zonal([_row(1, min=1.0 + 1e-15), _row(2)],
                                              EXP, STATS))


def test_point_comparator():
    exp = {(1, 0): 2.0, (1, 1): None}
    good = [{"zone_id": 1, "vertex_idx": 0, "value": 2.0},
            {"zone_id": 1, "vertex_idx": 1, "value": None}]
    assert not oracle.failed(oracle.compare_point(good, exp))
    bad = [{"zone_id": 1, "vertex_idx": 0, "value": 2.0 + 1e-9}]
    t = oracle.compare_point(bad, exp)
    assert t["wrong_values"] == 1 and t["missing"] == 1


# -- spans -------------------------------------------------------------------

def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 0, "name": "q", "parent": None, "qid": 0, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "qid": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "name": "b", "parent": 0, "qid": 0, "start": 2.0, "end": 5.0},
        {"id": 3, "name": "c", "parent": 0, "qid": 0, "start": 7.0, "end": 12.0},
    ]
    out = {s["name"]: s["self_s"] for s in with_self_time(spans)}
    assert out["q"] == pytest.approx(10.0 - 4.0 - 3.0)
    assert out["a"] == 2.0 and out["c"] == 5.0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == 3.0


def test_sql_metric_values_parse_counts_and_sizes():
    assert metric_value("1,234") == 1234
    assert metric_value("0") == 0
    sized = "total (min, med, max (stageId: taskId))\n25.3 MiB (1.0 KiB, 2.0 KiB, 3.0 KiB)"
    assert metric_value(sized) == round(25.3 * 2**20)
    assert metric_value("512.0 B") == 512
    with pytest.raises(ValueError):
        metric_value("n/a")


def test_tracer_nesting_and_disabled():
    t = Tracer()
    with t.span("run"):
        with t.span("query", qid=3):
            with t.span("plan", qid=3):
                pass
    assert [(s["name"], s["parent"]) for s in t.spans] == [
        ("run", None), ("query", 0), ("plan", 1)]
    off = Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


# -- BENCHMARK.json names what the runner prints ------------------------------

def _fake_run():
    from zbench import run as R

    stage = dict.fromkeys(STAGE_FIELDS, 1)
    group = {"jobs": 1, "stages": [stage]}
    cpu = {"driver": 0.1, "jvm": 1.0, "workers": 2.0, "total": 3.1}
    queries = [
        {"i": i, "phase": "measure", "traced": i % 2 == 0, "query_s": 1.0 + i,
         "plan_s": 0.1, "exec_s": 0.9, "cpu": cpu, "cpu_plan": cpu, "gc_s": 0.01,
         "plan_jobs": group, "exec_jobs": group, "failed": False,
         "sql": {"tiles_scanned": 10, "python_bytes_in": 2e6, "python_bytes_out": 1e6,
                 "python_rows_out": 50}}
        for i in range(4)
    ]
    layers = {k: 1.0 for k in (
        "scan.rowgroups_total", "scan.rowgroups_admitted", "scan.admitted_mb",
        "work.zones", "work.pairs", "work.interior_pairs", "work.pixels_covered",
        "work.tiles_needed", "work.vertices", "kernel_s_per_query",
        "kernel.decode_tile_us", "kernel.rasterize_pixgeom_us",
        "kernel.partial_stats_us", "kernel.partial_stats_vc_us",
        "kernel.point_query_one_us", "zonal.collect_dataset_meta_s",
        "zonal.broadcast_zone_geoms_s", "zonal.tile_prune_filter_s",
        "zonal.broadcast_cover_cells_s", "zonal.smj_sizing_s")}
    report = {"setup": {"get_spark_s": 5.0, "ingest_s": [1.0, 2.0, 3.0],
                        "load_corpus_s": [0.1, 0.2, 0.3], "setup_s": 7.2},
              "layers": layers}
    return R, SimpleNamespace(queries=queries, report=report,
                              rss=SimpleNamespace(total_mb=lambda: 100.0))


def test_benchmark_json_names_exactly_the_printed_metrics():
    R, run = _fake_run()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = R.end_to_end(run)
    layer = R.per_layer(run)
    assert sorted(e2e) == sorted(m["name"] for m in bench["end_to_end"])
    assert sorted(layer) == sorted(m["name"] for m in bench["per_layer"])
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    for name, (_, unit) in {**e2e, **layer}.items():
        assert units[name] == unit, name
    assert layer["cpu.driver_s"][0] + layer["cpu.jvm_s"][0] + layer["cpu.workers_s"][0] \
        == pytest.approx(3.1)
    assert {w["name"] for w in bench["workloads"]} == set(R.WL.WORKLOADS)
