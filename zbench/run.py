"""spark-zonal benchmark runner.

    python3 zbench/run.py --workload zonal_scalar --seed 1 --seconds 5 --trace 0

One closed-loop client on ``local[2]`` sends the workload's query, waits
for the rows, checks them against the single-node oracle and sends the
next. The run warms up for the workload's warm-up count of queries, then
measures for ``--seconds`` seconds and at least MIN_SAMPLES queries. With
``--trace 0`` the last line of standard output carries the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics of a traced
run, whose measured queries alternate traced and untraced so the tracing
overhead is measured in the same run. The line before it is the
full report: samples, contention evidence, failures and teardown.
BENCHMARK.json names every metric and the layer each one belongs to.

Each run works in a private directory under ``.zbench_run/`` in the
checkout (Spark local dirs, warehouse, derby, temp files and the corpus)
and removes it at the end; span traces and reports are kept in
``.zbench_run/reports/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from zbench import oracle, procfs, summary  # noqa: E402
from zbench import workloads as WL  # noqa: E402
from zbench.spans import StageReader, Tracer, jvm_pid, with_self_time  # noqa: E402

MASTER = "local[2]"  # half of the 4 vCPUs the benchmark was tuned on
INGEST_REPS = 3  # setup_s takes the median ingest + load of this many
MIN_SAMPLES = 3  # measured queries, even when --seconds runs out first
MB = 1e6


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WL.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def private_env(work: str) -> None:
    """Route every file Spark, the JVMs and the Python workers write into
    the run's own directory, and let the workers import the program."""
    for d in ("spark-local", "tmp", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher included; -UsePerfData keeps
    # them out of /tmp/hsperfdata_<user>. TieredStopAtLevel=1 compiles with
    # C1 only: with C2 the per-query CPU kept falling for 10+ queries as C2
    # recompiled, and a run this short never reached its steady state; with
    # C1 it settles after 2-4 queries, below where C2 got by query 10
    # (zbench/README.md, "Warm-up").
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={os.path.join(work, 'derby')}")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def spark_conf(work: str) -> dict:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


class Run:
    def __init__(self, args):
        self.args = args
        self.w = WL.WORKLOADS[args.workload]
        self.trace = bool(args.trace)
        self.tracer = Tracer(enabled=self.trace)
        self.pid = os.getpid()
        self.spark = None
        self.jvm = None
        self.stages = None
        self._zones = None  # the workload's zones DataFrame, set after setup
        self.rss = procfs.PeakRss(self.pid)
        self.queries: list[dict] = []
        self.report: dict = {"workload": self.w.name, "seed": args.seed,
                             "trace": self.trace, "master": MASTER}

    # -- readings -----------------------------------------------------------
    def cpu(self) -> dict:
        return procfs.tree_cpu(procfs.snapshot(), self.pid, self.jvm)

    # -- setup --------------------------------------------------------------
    def setup(self, work: str, inp: WL.Inputs) -> tuple:
        from python_rasterstats_spark.session import get_spark
        from python_rasterstats_spark.sources.tables import load_corpus

        t = self.tracer
        with t.span("setup"):
            t0 = time.perf_counter()
            with t.span("get_spark"):
                self.spark = get_spark(app=f"zbench-{self.w.name}", master=MASTER,
                                       shuffle_partitions=2, extra=spark_conf(work))
            get_spark_s = time.perf_counter() - t0
            self.spark.sparkContext.setLogLevel("ERROR")
            self.jvm = jvm_pid(self.spark.sparkContext)
            ingest, load = [], []
            for rep in range(INGEST_REPS):
                cdir = WL.corpus_dir(work, rep)
                t0 = time.perf_counter()
                with t.span("ingest"):
                    WL.ingest(inp, cdir)
                t1 = time.perf_counter()
                with t.span("load_corpus"):
                    tables = load_corpus(self.spark, cdir)
                t2 = time.perf_counter()
                ingest.append(t1 - t0)
                load.append(t2 - t1)
        both = [a + b for a, b in zip(ingest, load)]
        self.report["setup"] = {
            "get_spark_s": get_spark_s, "ingest_s": ingest, "load_corpus_s": load,
            "setup_s": get_spark_s + summary.median(both),
        }
        return tables, cdir

    # -- one query ----------------------------------------------------------
    def query(self, i: int, phase: str, traced: bool, tables, exp) -> dict:
        tiles, _, datasets = tables
        sc = self.spark.sparkContext
        rec = {"i": i, "phase": phase, "traced": traced}
        tspan = self.tracer if traced else Tracer(enabled=False)
        c0 = self.cpu()
        c1 = None  # taken before the check, so CPU covers plan + exec as query_s does
        gc0 = self.stages.gc_s() if traced else 0.0
        with tspan.span("query", qid=i):
            try:
                if traced:
                    sc.setJobGroup(f"q{i}-plan", "plan")
                t0 = time.perf_counter()
                with tspan.span("plan", qid=i):
                    df = WL.build_query(self.w, self._zones, tiles, datasets)
                t1 = time.perf_counter()
                if traced:
                    rec["cpu_plan"] = _diff(self.cpu(), c0)
                    x0 = self.stages.last_execution()
                    sc.setJobGroup(f"q{i}-exec", "exec")
                t2 = time.perf_counter()
                with tspan.span("exec", qid=i):
                    rows = [r.asDict() for r in df.collect()]
                t3 = time.perf_counter()
                c1 = self.cpu()
                with tspan.span("check", qid=i):
                    rec["tally"] = WL.check(self.w, rows, exp)
                rec["failed"] = oracle.failed(rec["tally"])
                rec.update(plan_s=t1 - t0, exec_s=t3 - t2, query_s=(t1 - t0) + (t3 - t2))
            except Exception as e:  # a failed query counts; the loop goes on
                rec.update(failed=True, error=f"{type(e).__name__}: {e}"[:500])
            finally:
                if traced:
                    sc.setJobGroup("zbench", "between queries")
        rec["cpu"] = _diff(c1 or self.cpu(), c0)
        if traced and "query_s" in rec:
            rec["gc_s"] = self.stages.gc_s() - gc0
            rec["plan_jobs"] = self.stages.group(f"q{i}-plan")
            rec["exec_jobs"] = self.stages.group(f"q{i}-exec")
            rec["sql"] = self.stages.sql_metrics(x0, "bytes")
        self.rss.sample(self.jvm)
        self.queries.append(rec)
        return rec

    # -- the run ------------------------------------------------------------
    def main(self, work: str) -> dict:
        a = self.args
        rep = self.report
        rep["steal_s_start"] = procfs.steal_s()
        rep["burn_before_s"] = procfs.burn_s()
        run_t0 = time.perf_counter()
        with self.tracer.span("run"):
            with self.tracer.span("generate"):
                inp = WL.generate(self.w, a.seed, work)
            with self.tracer.span("oracle"):
                exp = WL.expected(self.w, inp)
            tables, cdir = self.setup(work, inp)
            self.stages = StageReader(self.spark)
            self._zones = WL.query_zones_df(self.w, inp, tables[1])
            if not self.trace:
                # the raster is needed only by traced single-function
                # timings; drop it so peak RSS is the program's
                inp.arr = inp.arrays = None
                gc.collect()
                procfs.reset_hwm(self.pid)
            rep["setup"]["wall_to_first_query_s"] = time.perf_counter() - run_t0
            with self.tracer.span("warmup"):
                for i in range(self.w.warmup):
                    self.query(i, "warmup", False, tables, exp)
            t_meas = time.perf_counter()
            i = first = self.w.warmup
            with self.tracer.span("measure"):
                while (time.perf_counter() - t_meas < a.seconds
                       or i - first < MIN_SAMPLES):
                    self.query(i, "measure", self.trace and (i - first) % 2 == 0,
                               tables, exp)
                    i += 1
            rep["measure_wall_s"] = time.perf_counter() - t_meas
            if self.trace:
                with self.tracer.span("layers"):
                    rep["layers"] = self.layers(inp, tables, cdir, a.seed)
        rep["burn_after_s"] = procfs.burn_s()
        rep["steal_s"] = procfs.steal_s() - rep.pop("steal_s_start")
        return rep

    def layers(self, inp, tables, cdir, seed) -> dict:
        from zbench import layers as L

        datasets = tables[2]
        out = {}
        with self.tracer.span("work_counts"):
            counts, live, needed = L.work_counts(self.w, inp)
        out.update(counts)
        with self.tracer.span("kernel"):
            us = L.kernel_us(self.w, inp, live, needed, seed)
        out.update(us)
        out["kernel_s_per_query"] = L.kernel_seconds(self.w, counts, us)
        with self.tracer.span("planner"):
            plan, plan_inputs = L.planner_seconds(self.w, self._zones, datasets)
        out.update(plan)
        with self.tracer.span("scan_admission"):
            out.update(L.scan_admission(self.w, os.path.join(cdir, "tiles.parquet"),
                                        self._zones, plan_inputs))
        return out

    # -- teardown -----------------------------------------------------------
    def teardown(self) -> dict:
        """Stop Spark, close the JVM, and end every process still in the
        tree; report the ones that had to be killed. Runs after a failed or
        interrupted run too, when the gateway may no longer answer."""
        out = {"errors": []}
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            for step in (self.spark.stop, getattr(gw, "shutdown", None)):
                if step is None:
                    continue
                try:
                    step()
                except Exception as e:  # noqa: BLE001 - the JVM is ended below
                    out["errors"].append(f"{type(e).__name__}: {e}"[:300])
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits at end of input
                try:
                    proc.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    pass  # killed below
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 5
        while procfs.descendants(self.pid) and time.monotonic() < deadline:
            procfs.reap()
            time.sleep(0.1)
        out["killed"] = procfs.kill_tree(self.pid)
        return out


def _diff(b: dict, a: dict) -> dict:
    return {k: b[k] - a[k] for k in b}


def _sum_stages(groups, field, pred=lambda s: True) -> float:
    return sum(s[field] for g in groups for s in g["stages"] if pred(s))


def end_to_end(run: Run) -> dict:
    meas = [q for q in run.queries if q["phase"] == "measure" and "query_s" in q]
    qs = [q["query_s"] for q in meas]
    cpu = [q["cpu"]["total"] for q in meas]
    return {
        "query_s_p50": (summary.median(qs), "s"),
        "cpu_s_per_query": (summary.median(cpu), "s"),
        "py_peak_rss_mb": (run.rss.total_mb(), "MB"),
        "setup_s": (run.report["setup"]["setup_s"], "s"),
    }


def per_layer(run: Run) -> dict:
    meas = [q for q in run.queries if q["phase"] == "measure" and "query_s" in q]
    tr = [q for q in meas if q["traced"]]
    un = [q for q in meas if not q["traced"]]
    med = summary.median
    setup = run.report["setup"]
    lay = run.report["layers"]

    def per_query(fn):
        return med([fn(q) for q in tr])

    def exec_sum(field, pred=lambda s: True):
        return per_query(lambda q: _sum_stages([q["exec_jobs"]], field, pred))

    def all_sum(*fields):
        return per_query(lambda q: sum(
            _sum_stages([q["plan_jobs"], q["exec_jobs"]], f) for f in fields))

    split = summary.median_split([q["cpu"] for q in tr])
    tiles_read = per_query(lambda q: q["sql"]["tiles_scanned"])
    m = {
        "setup.get_spark_s": (setup["get_spark_s"], "s"),
        "setup.ingest_s": (med(setup["ingest_s"]), "s"),
        "setup.load_corpus_s": (med(setup["load_corpus_s"]), "s"),
        "plan_s": (per_query(lambda q: q["plan_s"]), "s"),
        "plan_jobs": (per_query(lambda q: q["plan_jobs"]["jobs"]), "count"),
        "plan.driver_cpu_s": (per_query(lambda q: q["cpu_plan"]["driver"]), "s"),
        "plan.jvm_cpu_s": (per_query(lambda q: q["cpu_plan"]["jvm"]), "s"),
        "scan.rowgroups_total": (lay["scan.rowgroups_total"], "count"),
        "scan.rowgroups_admitted": (lay["scan.rowgroups_admitted"], "count"),
        "scan.admitted_mb": (lay["scan.admitted_mb"], "MB"),
        "scan.tiles_read": (tiles_read, "count"),
        "scan.useful_ratio": (lay["work.tiles_needed"] / tiles_read if tiles_read else 0.0,
                              "ratio"),
        "cpu.driver_s": (split["driver"], "s"),
        "cpu.jvm_s": (split["jvm"], "s"),
        "cpu.workers_s": (split["workers"], "s"),
        "kernel.share": (lay["kernel_s_per_query"] / split["workers"]
                         if split["workers"] else 0.0, "ratio"),
        "python.mb_in": (per_query(lambda q: q["sql"]["python_bytes_in"]) / MB, "MB"),
        "python.mb_out": (per_query(lambda q: q["sql"]["python_bytes_out"]) / MB, "MB"),
        "python.rows_out": (per_query(lambda q: q["sql"]["python_rows_out"]), "count"),
        "shuffle.write_mb": (all_sum("shuffleWriteBytes") / MB, "MB"),
        "shuffle.read_mb": (all_sum("shuffleReadBytes") / MB, "MB"),
        "shuffle.records": (all_sum("shuffleWriteRecords"), "count"),
        "merge.run_s": (exec_sum("executorRunTime", lambda s: s["shuffleReadRecords"] > 0)
                        / 1e3, "s"),
        "spill_mb": (all_sum("memoryBytesSpilled", "diskBytesSpilled") / MB, "MB"),
        "exec.peak_mem_mb": (per_query(lambda q: max(
            [s["peakExecutionMemory"] for g in (q["plan_jobs"], q["exec_jobs"])
             for s in g["stages"]] or [0])) / MB, "MB"),
        "exec_s": (per_query(lambda q: q["exec_s"]), "s"),
        "exec_jobs": (per_query(lambda q: q["exec_jobs"]["jobs"]), "count"),
        "exec_tasks": (exec_sum("numTasks"), "count"),
        "task.cpu_s": (all_sum("executorCpuTime") / 1e9, "s"),
        "task.run_s": (all_sum("executorRunTime") / 1e3, "s"),
        "jvm.gc_s": (per_query(lambda q: q["gc_s"]), "s"),
        "trace.query_s_p50_traced": (per_query(lambda q: q["query_s"]), "s"),
        "trace.query_s_p50_untraced": (med([q["query_s"] for q in un]), "s"),
    }
    m["trace.overhead_s"] = (m["trace.query_s_p50_traced"][0]
                             - m["trace.query_s_p50_untraced"][0], "s")
    for k in ("kernel.decode_tile_us", "kernel.rasterize_pixgeom_us",
              "kernel.partial_stats_us", "kernel.partial_stats_vc_us",
              "kernel.point_query_one_us"):
        m[k] = (lay[k], "us")
    for k in ("zonal.collect_dataset_meta_s", "zonal.broadcast_zone_geoms_s",
              "zonal.tile_prune_filter_s", "zonal.broadcast_cover_cells_s",
              "zonal.smj_sizing_s"):
        m[k] = (lay[k], "s")
    for k in ("work.zones", "work.pairs", "work.interior_pairs", "work.pixels_covered",
              "work.tiles_needed", "work.vertices"):
        m[k] = (lay[k], "count")
    return m


def evidence(run: Run) -> dict:
    """Contention and drift evidence. Never used to drop, retry or reweight
    a sample."""
    warm = [q for q in run.queries if q["phase"] == "warmup"]
    meas = [q for q in run.queries if q["phase"] == "measure" and "query_s" in q]
    qs = [q["query_s"] for q in meas]
    cpu = [q["cpu"]["total"] for q in meas]
    q_tail, v_tail = summary.highest_tail(qs)
    return {
        "query_s": {"p50": summary.median(qs) if qs else None, "samples": len(qs),
                    "tail_q": q_tail, "tail": v_tail, "all": qs},
        "cpu_s": {"all": cpu},
        "warmup_cpu_s": [q["cpu"]["total"] for q in warm],
        "warmup_query_s": [q.get("query_s") for q in warm],
        "query_s_halves": summary.halves(qs),
        "cpu_s_halves": summary.halves(cpu),
    }


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    base = os.path.join(ROOT, ".zbench_run")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    reports = os.path.join(base, "reports")
    os.makedirs(reports, exist_ok=True)
    procfs.become_subreaper()
    # a timeout's SIGTERM unwinds through the teardown below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    private_env(work)
    run = Run(args)
    try:
        rep = run.main(work)
    finally:
        try:
            td = run.teardown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    rep["teardown"] = td
    rep["run_wall_s"] = time.perf_counter() - t_start
    done = [q for q in run.queries if "failed" in q]
    failed = sum(1 for q in done if q["failed"])
    rep["attempted"] = len(done)
    rep["failed"] = failed
    rep["failed_frac"] = failed / len(done)
    rep["failures"] = [
        {k: q.get(k) for k in ("i", "tally", "error")} for q in done if q["failed"]
    ]
    rep.update(evidence(run))
    rep["queries"] = [
        {k: q.get(k) for k in ("i", "phase", "traced", "query_s", "plan_s", "exec_s", "cpu")}
        for q in run.queries
    ]
    metrics = per_layer(run) if args.trace else end_to_end(run)
    if args.trace:
        spans = with_self_time(run.tracer.spans)
        rep["span_self_s"] = {
            name: summary.median([s["self_s"] for s in spans if s["name"] == name])
            for name in sorted({s["name"] for s in spans})
        }
        rep["cpu_check"] = {
            "cpu_s_per_query": summary.median(
                [q["cpu"]["total"] for q in run.queries
                 if q["phase"] == "measure" and q["traced"] and "query_s" in q]),
            "driver+jvm+workers": sum(metrics[k][0] for k in
                                      ("cpu.driver_s", "cpu.jvm_s", "cpu.workers_s")),
        }
        run.tracer.write(os.path.join(
            reports, f"{args.workload}-s{args.seed}-trace.json"))
    rep["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    with open(os.path.join(reports, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(rep, f, indent=1, default=str)
    print(json.dumps({"report": rep}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(done),
        "failed": failed,
        "metrics": rep["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
