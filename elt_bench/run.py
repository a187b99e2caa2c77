"""End-to-end ELT benchmark for dumpty_spark.

Usage, from the root of a checkout::

    python3 elt_bench/run.py --workload elt_extract --seed 1 --seconds 20 --trace 0

Workloads: elt_extract (JDBC extract and incremental lake rounds) and
analytics (SQL mix and corpus curation); see elt_bench/README.md. Each is
a closed loop: one client, one request at a time, in this process,
against Spark ``local[<cpus>]``.

A run generates its inputs from ``--seed``, starts the session, stages
the inputs, warms up, then times whole request cycles until the requests
have taken ``--seconds``.
Every request's output is checked against an answer computed in set-up by
independent code. The last line of stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` the run times half its cycles untraced and half traced and
reports the per-layer metrics, including the tracing overhead. The line
before it is a JSON report with run health, warm-up levelling and any
failures; reports and spans are also written under ``.bench_out/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from elt_bench import health  # noqa: E402
from elt_bench.workloads import SQL_MIX, WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "request_p50_s": "s",
    "request_tail_s": "s",
    "bytes_per_row": "B/row",
    "ok_share": "ratio",
    "quality": "ratio",
    "peak_rss_mb": "MB",
}
LAYERS = ["bench", "cli", "pipeline", "sources", "plans", "sinks", "validate",
          "functions", "operators", "queries"]
PER_LAYER = {
    "session.start_s": "s",
    "spark.jobs_per_request": "count",
    "spark.tasks_per_request": "count",
    "jvm.cpu_s_per_request": "s",
    "jvm.gc_ms_per_request": "ms",
    "jvm.warmup_cpu_ratio": "ratio",
    "health.load1_before": "load",
    "health.load1_after": "load",
    "health.cpu_steal_s": "s",
    "jdbc.introspect_s": "s",
    "jdbc.boundary_probe_s": "s",
    "jdbc.scan_partitions": "count",
    "jdbc.slice_skew": "ratio",
    "planner.introspect_fast_s": "s",
    "planner.plan_s": "s",
    "planner.strategy.bounds": "count",
    "planner.strategy.predicates": "count",
    "planner.strategy.single": "count",
    "state.tables_changed": "count",
    "state.tables_selected": "count",
    "state.introspection_reused": "count",
    "validate.reconcile_s": "s",
    "validate.mismatched_tables": "count",
    "sink.write_s.ndjson": "s",
    "sink.write_s.parquet": "s",
    "sink.files": "count",
    "sink.bytes": "B",
    "sink.sidecar_s": "s",
    "pipeline.run_s": "s",
    "pipeline.table_s": "s",
    "pipeline.overlap": "ratio",
    "text.filter_s": "s",
    "text.kept_ratio": "ratio",
    "dedup.exact_s": "s",
    "dedup.minhash_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "dedup.cc_s": "s",
    "ann.search_s": "s",
    "ann.recall_at_k": "ratio",
    **{f"sql.{q}_s": "s" for q in SQL_MIX},
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.overhead_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.spans_per_request": "count",
}



def _count(sp, out) -> None:
    sp.attrs["n"] = len(out)


def _strategy(sp, out) -> None:
    sp.attrs["strategy"] = out.strategy


# Functions wrapped in the traced run, at the module each caller looks
# them up in: (module, attribute, recorder of result attributes).
WRAPS = [
    ("dumpty_spark.cli", "main", None),
    ("dumpty_spark.cli", "changed_tables", _count),
    ("dumpty_spark.validate", "select_incremental", _count),
    ("dumpty_spark.validate", "reconcile_table_lists", None),
    ("dumpty_spark.sources", "load_table", None),
    ("dumpty_spark.sources.jdbc", "introspect_jdbc", None),
    ("dumpty_spark.sources.jdbc", "scan", None),
    ("dumpty_spark.plans.planner", "plan_partitions", _strategy),
    ("dumpty_spark.plans.planner", "approx_boundaries", None),
    ("dumpty_spark.plans.planner", "introspect_stats_fast", None),
    ("dumpty_spark.pipeline", "run_pipeline", None),
    ("dumpty_spark.pipeline", "_process_table", None),
    ("dumpty_spark.pipeline", "introspect_stats", None),
    ("dumpty_spark.pipeline", "plan_partitions", _strategy),
    ("dumpty_spark.pipeline", "write_parquet", None),
    ("dumpty_spark.pipeline", "write_ndjson", None),
    ("dumpty_spark.pipeline", "write_schema_sidecar", None),
    ("dumpty_spark.pipeline", "sink_size_bytes", None),
    ("dumpty_spark.sinks.writers", "write_ndjson", None),
    ("dumpty_spark.sinks.writers", "write_schema_sidecar", None),
    ("dumpty_spark.sinks.writers", "sink_size_bytes", None),
    ("dumpty_spark.functions.text", "quality_score", None),
    ("dumpty_spark.operators.dedup", "exact_dedup", None),
    ("dumpty_spark.operators.dedup", "minhash_lsh_pairs", None),
    ("dumpty_spark.operators.dedup", "connected_components", None),
    ("dumpty_spark.operators.similarity", "ann_lsh_topk", None),
]


def configure_env(work: str, cpus: int) -> None:
    """Keep every file the engine writes inside ``work`` and put the
    checkout on the Python workers' path (they import
    dumpty_spark.python_daemon). The driver JVM gets a 2 GB pre-touched
    heap and the C1 compiler only, so per-request CPU levels off within
    the warm-up instead of after tens of requests."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": (
            "-Xms2g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 -XX:-UsePerfData "
            f"-Djava.io.tmpdir={work}/tmp -Dderby.stream.error.file={work}/derby.log"
        ),
        "SPARK_GRAFT_WAREHOUSE": f"{work}/warehouse",
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "TMPDIR": f"{work}/tmp",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": ROOT + (os.pathsep + old if old else ""),
    })


def tail(walls: list[float]) -> tuple[float, float]:
    """The highest percentile, from the median up, with at least ten
    samples beyond it: the 11th-slowest request once there are more than
    20 requests, else the median. Returns (seconds, percentile)."""
    n = len(walls)
    if n <= 20:
        return statistics.median(walls), 50.0
    return sorted(walls, reverse=True)[10], 100.0 * (1 - 10 / n)


def _what(r: dict) -> str:
    return str(r.get("table") or r.get("tables") or r.get("shard"))


def levelled_ratio(part: str, warm: list[dict], timed: list[dict]) -> float:
    """JVM CPU of a part's last warm-up request over the median of its
    timed requests of the same kind (same table, tables or shard): near 1
    once warm-up has levelled off."""
    last = [r for r in warm if r["part"] == part][-1]
    same = [r["cpu_s"] for r in timed if r["part"] == part and _what(r) == _what(last)]
    return last["cpu_s"] / statistics.median(same or [r["cpu_s"] for r in timed if r["part"] == part])


class Runner:
    def __init__(self, args, cpus: int, work: str):
        self.args = args
        self.cpus = cpus
        self.work = work
        self.tracer = None
        self.probe = None
        self.seen_ungrouped: set[int] = set()
        self.checked = self.passed = 0
        self.all_ok = True

    def span(self, name: str, layer: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)

    def one(self, i: int) -> dict:
        wl, probe, tracer = self.wl, self.probe, self.tracer
        wl.before(i)
        cpu0, gc0 = probe.cpu_s(), probe.gc_ms()
        probe.set_group(f"req-{i}")
        root = tracer.begin_request(i, wl.name) if tracer else None
        t = health.now()
        res = wl.request(i)
        wall = health.now() - t
        if tracer:
            tracer.close(root)
        probe.set_group(None)
        cpu, gc = probe.cpu_s() - cpu0, probe.gc_ms() - gc0
        jobs = set(probe.job_ids(f"req-{i}"))
        new = set(probe.job_ids(None)) - self.seen_ungrouped
        self.seen_ungrouped |= new
        jobs |= new
        if tracer:
            for sp in tracer.spans[root.id:]:
                jobs |= set(probe.job_ids(f"span-{sp.id}"))
            tracer.request = -1
            extra = getattr(wl, "trace_extra", None)
            if extra:
                extra(i, res)
        res.update(i=i, wall=wall, cpu_s=cpu, gc_ms=gc, jobs=len(jobs), tasks=probe.tasks(jobs))
        n, good = wl.check(i, res)
        self.checked += n
        self.passed += good
        self.all_ok &= n == good
        res["checks"] = [n, good]
        return res

    def phase(self, start: int, seconds: float, min_cycles: int) -> list[dict]:
        """Whole cycles, at least ``min_cycles``, until the requests have
        taken ``seconds`` (checks and input changes between requests are
        not counted)."""
        out, i, cycles = [], start, 0
        while cycles < min_cycles or sum(r["wall"] for r in out) < seconds:
            for _ in range(self.wl.cycle):
                out.append(self.one(i))
                i += 1
            cycles += 1
        return out

    def run(self) -> tuple[dict, dict]:
        args = self.args
        load_before = health.load1()
        configure_env(self.work, self.cpus)
        with health.RssSampler() as rss:
            self.wl = WORKLOADS[args.workload](self.work, args.seed, self.cpus, args.small, self.span)
            self.wl.prepare()
            from dumpty_spark.session import get_session

            t = prepared = health.now()
            spark = get_session("elt-bench")
            session_start = health.now() - t
            try:
                self.probe = health.JvmProbe(spark)
                self.seen_ungrouped = set(self.probe.job_ids(None))
                self.wl.stage(spark)
                staged = health.now()
                n_warm = self.wl.warmup
                warm = [self.one(i) for i in range(n_warm)]
                self.checked = self.passed = 0  # quality counts timed requests only
                setup_s = health.now() - T0
                steal0 = health.steal_s()
                if args.trace:
                    plain = self.phase(n_warm, args.seconds / 2, 1)
                    from elt_bench.trace import Tracer

                    self.tracer = Tracer(self.probe)
                    for mod, attr, rec in WRAPS:
                        self.tracer.wrap(mod, attr, on_result=rec)
                    try:
                        traced = self.phase(n_warm + len(plain), args.seconds / 2, 1)
                    finally:
                        self.tracer.unwrap()
                    timed = plain + traced
                else:
                    plain = timed = self.phase(n_warm, args.seconds, 2)
                timed_end = health.now()
                steal = health.steal_s() - steal0
            finally:
                stop_spark(spark)
        load_after = health.load1()
        phases = {
            "prepare_s": prepared - T0, "session_s": session_start,
            "stage_s": staged - prepared - session_start, "warmup_s": setup_s - (staged - T0),
            "timed_s": timed_end - (T0 + setup_s), "teardown_s": health.now() - timed_end,
        }

        walls = [r["wall"] for r in timed]
        tail_s, tail_pct = tail(walls)
        warm_cpu = [r["cpu_s"] for r in warm]
        parts = dict.fromkeys(r["part"] for r in warm)
        levelled = {part: levelled_ratio(part, warm, plain) for part in parts}
        e2e = {
            "setup_s": setup_s,
            "rows_per_s": sum(r["rows"] for r in timed) / sum(walls),
            "request_p50_s": statistics.median(walls),
            "request_tail_s": tail_s,
            "bytes_per_row": sum(r["out_bytes"] for r in timed) / sum(r["rows"] for r in timed),
            "ok_share": sum(r["ok"] for r in timed) / len(timed),
            "quality": self.passed / self.checked,
            "peak_rss_mb": rss.peak_mb,
        }
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": self.cpus, "requests": len(timed), "warmup_requests": len(warm),
            "phases_s": phases,
            "request_p50_samples": len(walls),
            "request_tail_percentile": round(tail_pct, 1), "request_tail_samples": len(walls),
            "checks": [self.checked, self.passed],
            "all_checks_passed": self.all_ok,
            "warmup_cpu_s": [round(c, 3) for c in warm_cpu],
            "warmup_levelled_ratio": levelled,
            "health": {
                "load1_before": load_before, "load1_after": load_after,
                "cpu_steal_s_while_timed": steal,
                "session_start_s": session_start,
                "gc_ms_per_request": statistics.median(r["gc_ms"] for r in timed),
                "jvm_cpu_s_per_request": statistics.median(r["cpu_s"] for r in timed),
                "jobs_per_request": statistics.median(r["jobs"] for r in timed),
                "tasks_per_request": statistics.median(r["tasks"] for r in timed),
            },
            "failures": [[r["i"], *f] for r in timed for f in r["failures"]],
            "requests_detail": [
                {
                    "part": r["part"], "what": _what(r),
                    **{k: r[k] for k in ("i", "wall", "cpu_s", "gc_ms", "jobs", "tasks", "rows", "ok", "checks")},
                }
                for r in warm + timed
            ],
        }
        if args.trace:
            metrics = layer_metrics(self.tracer, plain, traced, report)
            os.makedirs(f"{ROOT}/.bench_out", exist_ok=True)
            self.tracer.dump(f"{ROOT}/.bench_out/spans-{args.workload}-seed{args.seed}.json")
            report["spans"] = len(self.tracer.spans)
        else:
            metrics = e2e
        report["end_to_end"] = e2e
        return metrics, report


def layer_metrics(tracer, plain: list[dict], traced: list[dict], report: dict) -> dict:
    spans = [s for s in tracer.spans if s.request >= 0]
    n = len(traced)
    selfs = tracer.self_times()

    def per_req(*names: str) -> float:
        return sum(s.end - s.start for s in spans if s.name in names) / n

    def mean(key: str, rows=traced) -> float:
        vals = [r[key] for r in rows if r.get(key) is not None]
        return sum(vals) / len(vals) if vals else 0.0

    by_req: dict[int, list] = {}
    for s in spans:
        by_req.setdefault(s.request, []).append(s)
    reused = []
    for ss in by_req.values():
        sel = [s.attrs["n"] for s in ss if s.name == "validate.select_incremental"]
        if sel:
            intro = sum(s.name in ("plans.planner.introspect_stats", "plans.planner.introspect_stats_fast")
                        for s in ss)
            reused.append(sel[0] - intro)
    plans = [s.attrs.get("strategy") for s in spans if s.name.endswith("plan_partitions")]
    tables = [s.end - s.start for s in spans if s.name == "pipeline._process_table"]
    runs = [s.end - s.start for s in spans if s.name == "pipeline.run_pipeline"]
    skews = [
        max(r["slice_rows"]) / (r["rows"] / r["partitions"])
        for r in traced if r.get("slice_rows") and r["rows"]
    ]
    cand = sum(r.get("candidates", 0) for r in traced)
    untraced_p50 = statistics.median(r["wall"] for r in plain)
    traced_p50 = statistics.median(r["wall"] for r in traced)
    health_ = report["health"]
    m = {
        "session.start_s": health_["session_start_s"],
        "spark.jobs_per_request": statistics.median(r["jobs"] for r in traced),
        "spark.tasks_per_request": statistics.median(r["tasks"] for r in traced),
        "jvm.cpu_s_per_request": statistics.median(r["cpu_s"] for r in traced),
        "jvm.gc_ms_per_request": statistics.median(r["gc_ms"] for r in traced),
        "jvm.warmup_cpu_ratio": max(report["warmup_levelled_ratio"].values()),
        "health.load1_before": health_["load1_before"],
        "health.load1_after": health_["load1_after"],
        "health.cpu_steal_s": health_["cpu_steal_s_while_timed"],
        "jdbc.introspect_s": per_req("sources.jdbc.introspect_jdbc"),
        "jdbc.boundary_probe_s": per_req("jdbc.boundary_probe"),
        "jdbc.scan_partitions": mean("partitions"),
        "jdbc.slice_skew": sum(skews) / len(skews) if skews else 0.0,
        "planner.introspect_fast_s": per_req("plans.planner.introspect_stats_fast"),
        "planner.plan_s": per_req("plans.planner.plan_partitions"),
        **{f"planner.strategy.{k}": plans.count(k) / n for k in ("bounds", "predicates", "single")},
        "state.tables_changed": sum(s.attrs.get("n", 0) for s in spans if s.name == "cli.changed_tables") / n,
        "state.tables_selected": sum(s.attrs.get("n", 0) for s in spans if s.name == "validate.select_incremental") / n,
        "state.introspection_reused": sum(reused) / n,
        "validate.reconcile_s": per_req("reconcile", "validate.select_incremental", "validate.reconcile_table_lists"),
        "validate.mismatched_tables": mean("mismatched"),
        "sink.write_s.ndjson": per_req("sinks.writers.write_ndjson"),
        "sink.write_s.parquet": per_req("sinks.writers.write_parquet"),
        "sink.files": mean("files"),
        "sink.bytes": sum(r["out_bytes"] for r in traced if r.get("sink_format")) / n,
        "sink.sidecar_s": per_req("sinks.writers.write_schema_sidecar"),
        "pipeline.run_s": per_req("pipeline.run_pipeline"),
        "pipeline.table_s": sum(tables) / len(tables) if tables else 0.0,
        "pipeline.overlap": sum(tables) / sum(runs) if runs else 0.0,
        "text.filter_s": per_req("text.filter"),
        "text.kept_ratio": mean("kept_ratio"),
        "dedup.exact_s": per_req("dedup.exact"),
        "dedup.minhash_s": per_req("dedup.minhash"),
        "dedup.candidate_pairs": cand / n,
        "dedup.verified_pairs": mean("verified_pairs"),
        "dedup.verify_yield": sum(r.get("verified_pairs", 0) for r in traced) / cand if cand else 0.0,
        "dedup.cc_s": per_req("dedup.cc"),
        "ann.search_s": per_req("ann.search"),
        "ann.recall_at_k": mean("recall"),
        "trace.overhead_s": traced_p50 - untraced_p50,
        "trace.overhead_ratio": traced_p50 / untraced_p50 - 1,
        "trace.spans_per_request": len(spans) / n,
    }
    for q in SQL_MIX:
        d = [s.end - s.start for s in spans if s.name == f"sql.{q}"]
        m[f"sql.{q}_s"] = sum(d) / len(d) if d else 0.0
    for layer in LAYERS:
        m[f"self.{layer}_s"] = sum(selfs[s.id] for s in spans if s.layer == layer) / n
    return m


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until every
    process this run started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while health.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in health.descendants(os.getpid()):
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--small", action="store_true", help="tiny inputs, for the self-tests")
    args = ap.parse_args(argv)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    try:
        metrics, report = Runner(args, cpus, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(f"{out_dir}/report-{args.workload}-seed{args.seed}-trace{args.trace}.json", "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    correct = report["checks"][0] > 0 and report["all_checks_passed"]
    print(json.dumps({
        "correct": correct,
        "attempted": report["requests"],
        "failed": sum(1 for r in report["requests_detail"][report["warmup_requests"]:] if not r["ok"]),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
