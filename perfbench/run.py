"""Repository benchmark: one closed-loop client on ``local[nproc]``.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: ``registry_relational``, ``registry_curation`` and
``denorm_leaderboard`` (see perfbench/README.md).  Each run sets up a
session, runs an untimed warm-up pass that also checks every output (the
registry workloads run a second, unchecked one), then times full passes
until ``--seconds`` have elapsed and at least two have run.
With ``--trace 1`` the run then applies the span wrappers, times one more
pass with tracing on and reports the per-layer metrics.  The last line of
standard output is the JSON result."""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
FIXTURES = ROOT / "perfbench" / "fixtures" / "sf0.1"
WORK = ROOT / ".perfbench_work"

if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

WORKLOADS = ("registry_relational", "registry_curation", "denorm_leaderboard")


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _empty_dir(path: Path) -> None:
    for p in path.iterdir():
        if p.is_dir() and not p.is_symlink():
            shutil.rmtree(p)
        else:
            p.unlink()


class Run:
    """One benchmark run: its private directories, session and samples."""

    def __init__(self, args, run_dir: Path) -> None:
        from perfbench.stats import cpu_jiffies

        self.args = args
        self.run_dir = run_dir
        self.tmp = run_dir / "tmp"
        self.cpu0 = cpu_jiffies()
        self.outcomes: list[bool] = []  # True = failed
        self.check_s = 0.0  # oracle + comparison time, excluded from setup_s
        self.layers: dict[str, float] = {}
        self.op_latency: dict[str, float] = {}  # registry rep -> seconds
        self.spark = None

    # -- set-up ---------------------------------------------------------
    def start_session(self) -> None:
        from bigdatastructure_a5_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.run_dir / 'jvm-tmp'} -XX:-UsePerfData"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layers["session.start_s"] = time.perf_counter() - t0

    def fresh_pass(self) -> None:
        """No state survives into a timed pass: empty the private temp dir
        and drop every cached frame."""
        _empty_dir(self.tmp)
        self.spark.catalog.clearCache()

    def fail(self, what: str) -> None:
        _log(f"FAILED {what}")
        self.outcomes.append(True)

    # -- tear-down ------------------------------------------------------
    def peak_rss_mib(self) -> float:
        from pyspark import SparkContext

        from perfbench.stats import vm_hwm_mib

        gw = SparkContext._gateway
        jvm = vm_hwm_mib(gw.proc.pid) if gw is not None and getattr(gw, "proc", None) else 0.0
        return vm_hwm_mib() + jvm

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)


def run_registry(run: Run, rows: list[str], trace: bool) -> dict:
    from bigdatastructure_a5_spark.queries.scratch import STAGING_LEDGER
    from bigdatastructure_a5_spark.registry import REGISTRY

    from perfbench.checks import Oracle, row_problems, verify_fixtures
    from perfbench.stats import dir_bytes, tree_cpu_s
    from perfbench.trace import Span
    from perfbench.workloads import pass_order

    spark, sf = run.spark, str(FIXTURES)
    seed = run.args.seed
    oracle = Oracle(sf, verify_fixtures(sf), str(WORK / "oracle-cache"))

    # warm-up pass: each row built and collected, then checked
    run.fresh_pass()
    for name in pass_order(rows, seed, 0):
        qd = REGISTRY[name]
        spark.catalog.clearCache()
        try:
            df = qd.builder(spark, sf)
            cols, got = df.columns, [tuple(r) for r in df.collect()]
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            run.fail(f"{name}: warm-up raised")
            continue
        t0 = time.perf_counter()
        problems = row_problems(cols, got, oracle.answer(qd.oracle))
        run.check_s += time.perf_counter() - t0
        if problems:
            run.fail(f"{name}: " + "; ".join(problems))
        else:
            run.outcomes.append(False)
    oracle.close()

    def one_pass(index: int, tracer=None, counters=None) -> tuple[float, list[float], dict]:
        run.fresh_pass()
        ledger0 = len(STAGING_LEDGER)
        lat: list[float] = []
        acc: dict = {}
        traced = []  # (marks before build, exec and after, build s, exec s)
        cpu0 = tree_cpu_s()
        t_pass = time.perf_counter()
        for name in pass_order(rows, seed, index):
            builder = REGISTRY[name].builder
            spark.catalog.clearCache()
            if counters:
                m0, bytes0 = counters.mark(), dir_bytes(str(run.tmp))
            try:
                t0 = time.perf_counter()
                df = builder(spark, sf)
                t1 = time.perf_counter()
                if counters:
                    m1 = counters.mark()
                t2 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                t3 = time.perf_counter()
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                run.fail(f"{name}: pass {index} raised")
                continue
            run.outcomes.append(False)
            lat.append((t1 - t0) + (t3 - t2))
            run.op_latency[f"{name}@{index}"] = lat[-1]
            if tracer:
                # spans from the benchmark's own calls into the layers
                with tracer.operation(f"{name}@{index}"):
                    op = len(tracer.spans)
                    tracer.spans.append(Span("queries.rep", t0, t3, None, tracer.op))
                    tracer.spans.append(Span("queries.build", t0, t1, op, tracer.op))
                    tracer.spans.append(Span("spark.exec", t2, t3, op, tracer.op))
                traced.append((m0, m1, counters.mark(), t1 - t0, t3 - t2))
                acc["state_bytes"] = acc.get("state_bytes", 0) + max(
                    0, dir_bytes(str(run.tmp)) - bytes0
                )
        pass_s = time.perf_counter() - t_pass
        acc["cpu_s"] = tree_cpu_s() - cpu0
        acc["staging_s"] = sum(w for _, built, w in STAGING_LEDGER[ledger0:] if built)
        # counters are read after the pass, so reading them costs it nothing
        for m0, m1, m2, build_s, exec_s in traced:
            _accumulate(acc, counters.collect(m0, m1), counters.collect(m1, m2), build_s, exec_s)
        return pass_s, lat, acc

    # a second, unchecked warm-up pass: each row runs once per pass, and
    # after a single warm-up pass the first timed pass ran ~20% slower
    # than the passes after it
    one_pass(0)
    return _timed_passes(run, one_pass, trace)


def _accumulate(acc: dict, build: dict, execd: dict, build_s: float, exec_s: float) -> None:
    from perfbench.stats import union_seconds

    for part in (build, execd):
        for k, v in part.items():
            if k in ("job_intervals", "micro_batches"):
                continue
            acc[k] = acc.get(k, 0) + v
        acc.setdefault("batches", set()).update(part["micro_batches"])
    acc["build_s"] = acc.get("build_s", 0.0) + build_s
    acc["exec_s"] = acc.get("exec_s", 0.0) + exec_s
    acc["build_jobs"] = acc.get("build_jobs", 0) + build["jobs"]
    busy = union_seconds(build["job_intervals"] + execd["job_intervals"])
    acc["job_busy_s"] = acc.get("job_busy_s", 0.0) + busy
    acc["driver_only_s"] = acc.get("driver_only_s", 0.0) + max(0.0, build_s + exec_s - busy)


def run_leaderboard(run: Run, trace: bool) -> dict:
    import pyarrow.parquet as pq

    from bigdatastructure_a5_spark.catalog import load_tables
    from bigdatastructure_a5_spark.examples.challenge_demo import DENORMS
    from bigdatastructure_a5_spark.plans.workload import run_workload
    from bigdatastructure_a5_spark.sources.json_config import QuerySpec

    from perfbench.checks import Oracle, leaderboard_problems, verify_fixtures
    from perfbench.stats import dir_bytes, median, tree_cpu_s, union_seconds
    from perfbench.trace import QueryClock, Tracer, install
    from perfbench.workloads import choose_brands, filtered_join_count_sql, leaderboard_queries

    spark, sf = run.spark, str(FIXTURES)
    oracle = Oracle(sf, verify_fixtures(sf), str(WORK / "oracle-cache"))
    t0 = time.perf_counter()
    base = load_tables(spark, sf, ("part", "lineitem"))
    run.layers["catalog.load_s"] = time.perf_counter() - t0
    base_bytes = sum(os.path.getsize(FIXTURES / f"{t}.parquet") for t in base)

    brands = choose_brands(
        pq.read_table(FIXTURES / "part.parquet", columns=["p_brand"]).column(0).to_pylist(),
        run.args.seed,
    )
    specs = [QuerySpec(id=q, sql=s, frequency=f) for q, s, f in leaderboard_queries(brands)]
    variants = [d.id for d in DENORMS]
    t0 = time.perf_counter()
    expected = {
        b: int(oracle.answer(filtered_join_count_sql(b))["first"][0]) for b in brands
    }
    oracle.close()
    run.check_s += time.perf_counter() - t0

    def check(report) -> None:
        t0 = time.perf_counter()
        counts: dict[str, dict[str, int]] = {b: {} for b in brands}
        for r in report.rows:
            if r.query.startswith("q2_filtered_join_"):
                brand = brands[int(r.query.rsplit("_", 1)[1])]
                counts[brand][r.variant] = int(r.metrics.output_rows)
        per_brand, board = leaderboard_problems(counts, expected, report.leaderboard(), variants)
        bad = {b for b, p in per_brand.items() if p}
        for b in sorted(bad):
            _log(f"FAILED leaderboard {b}: " + "; ".join(per_brand[b]))
        for r in report.rows:
            failed = r.query.startswith("q2_") and brands[int(r.query.rsplit("_", 1)[1])] in bad
            run.outcomes.append(failed)
        if board:
            run.fail("leaderboard: " + "; ".join(board))
        else:
            run.outcomes.append(False)
        run.check_s += time.perf_counter() - t0

    # the pipeline calls materialize_variant / rewrite / run_with_metrics
    # internally; materialize and per-query times come from these hooks
    tracer, clock = Tracer(), QueryClock()
    undo = install(tracer, clock, None)
    stored: list[int] = []

    def one_pass(index: int, traced=None, counters=None) -> tuple[float, list[float], dict]:
        nonlocal tracer, clock, undo
        run.fresh_pass()
        if traced:
            # the traced pass: the same hooks, recording into the traced
            # run's tracer and reading Spark counters
            undo()
            tracer, clock = traced, QueryClock()
            undo = install(tracer, clock, counters)
            m0 = counters.mark()
        span0, q0 = len(tracer.spans), len(clock.latencies)
        storage, out = run.tmp / "layouts", run.tmp / "report"
        cpu0 = tree_cpu_s()
        t_pass = time.perf_counter()
        try:
            with tracer.operation(f"leaderboard@{index}"):
                report = run_workload(spark, base, list(DENORMS), specs, str(storage), str(out))
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            run.fail(f"leaderboard pass {index} raised")
            return time.perf_counter() - t_pass, [], {}
        pass_s = time.perf_counter() - t_pass
        cpu_s = tree_cpu_s() - cpu0
        check(report)
        stored.append(dir_bytes(str(storage)))
        acc = {
            "cpu_s": cpu_s,
            "materialize": tracer.durations("workload.materialize", span0),
            "exec_s": sum(r.metrics.wall_sec for r in report.rows),
        }
        if counters:
            m1 = counters.mark()
            c = counters.collect(m0, m1)
            busy = union_seconds(c["job_intervals"])
            acc.update({k: v for k, v in c.items() if k not in ("job_intervals", "micro_batches")})
            acc["batches"] = c["micro_batches"]
            acc["job_busy_s"] = busy
            acc["driver_only_s"] = max(0.0, pass_s - busy)
            acc["rewrite_s"] = sum(tracer.durations("sql_front.rewrite", span0))
            acc["metrics_run_s"] = sum(tracer.durations("metrics.run", span0))
            acc["harvest_s"] = counters.harvest_s
            acc["report_s"] = sum(tracer.durations("workload.report", span0))
            acc["bytes_written"] = stored[-1]
        return pass_s, clock.latencies[q0:], acc

    try:
        one_pass(0)  # the warm-up pass, checked like every other
        result = _timed_passes(run, one_pass, trace)
    finally:
        undo()
    result["stored_bytes_ratio"] = median(stored) / base_bytes if stored else None
    return result


#: Timed passes per run, at the least, so that ``pass_s`` is a median.
MIN_PASSES = 2


def _timed_passes(run: Run, one_pass, trace: bool) -> dict:
    """Time passes until ``--seconds`` have elapsed and ``MIN_PASSES`` have
    run, then with ``trace`` one traced pass.  Returns the end-to-end samples and, when traced,
    the layer totals."""
    from perfbench.stats import geomean, median, tail
    from perfbench.trace import SparkCounters, Tracer

    first_timed = time.perf_counter()
    setup_s = (first_timed - T_PROCESS) - run.check_s
    passes: list[float] = []
    cpu: list[float] = []
    latencies: list[float] = []
    materialize: list[float] = []
    index = 1
    while len(passes) < MIN_PASSES or time.perf_counter() - first_timed < run.args.seconds:
        pass_s, lat, acc = one_pass(index)
        passes.append(pass_s)
        if "cpu_s" in acc:
            cpu.append(acc["cpu_s"])
        latencies += lat
        materialize += acc.get("materialize", [])
        index += 1
    if not latencies:
        raise RuntimeError("no operation completed")
    p_tail, pct = tail(latencies)
    out = {
        "setup_s": setup_s,
        "pass_s": median(passes),
        "pass_cpu_s": median(cpu),
        "query_p50_s": median(latencies),
        "query_geomean_s": geomean(latencies),
        "query_tail_s": p_tail,
        "query_tail_pct": pct,
        "query_samples": len(latencies),
        "pass_s_all": passes,
        "pass_cpu_s_all": cpu,
        "materialize_p50_s": median(materialize) if materialize else None,
    }
    if trace:
        tracer = Tracer()
        counters = SparkCounters(run.spark)
        pass_s, _lat, acc = one_pass(index, tracer, counters)
        out["trace"] = {"pass_s": pass_s, "acc": acc, "tracer": tracer}
    return out


def layer_metrics(run: Run, res: dict) -> dict[str, float]:
    """The per-layer metrics of one traced pass (0 where the workload does
    not exercise the layer)."""
    t = res["trace"]
    acc = t["acc"]
    cores = run.spark.sparkContext.defaultParallelism
    busy = acc.get("job_busy_s", 0.0)
    return {
        "session.start_s": run.layers["session.start_s"],
        "catalog.load_s": run.layers.get("catalog.load_s", 0.0),
        "queries.build_s": acc.get("build_s", 0.0),
        "queries.build_jobs": acc.get("build_jobs", 0),
        "queries.staging_build_s": acc.get("staging_s", 0.0),
        "spark.exec_s": acc.get("exec_s", 0.0),
        "spark.driver_only_s": acc.get("driver_only_s", 0.0),
        "spark.jobs": acc.get("jobs", 0),
        "spark.stages": acc.get("stages", 0),
        "spark.tasks": acc.get("tasks", 0),
        "spark.single_task_stages": acc.get("single_task_stages", 0),
        "spark.slot_use": acc.get("executor_run_s", 0.0) / (busy * cores) if busy else 0.0,
        "spark.scan_bytes": acc.get("scan_bytes", 0),
        "spark.shuffle_write_bytes": acc.get("shuffle_write_bytes", 0),
        "spark.spill_bytes": acc.get("spill_bytes", 0),
        "spark.gc_s": acc.get("gc_s", 0.0),
        "streaming.state_bytes_written": acc.get("state_bytes", 0),
        "streaming.micro_batches": len(acc.get("batches", ())),
        "workload.materialize_s": sum(acc.get("materialize", [])),
        "workload.bytes_written": acc.get("bytes_written", 0),
        "sql_front.rewrite_s": acc.get("rewrite_s", 0.0),
        "metrics.run_s": acc.get("metrics_run_s", 0.0),
        "metrics.harvest_s": acc.get("harvest_s", 0.0),
        "workload.report_s": acc.get("report_s", 0.0),
        "trace.pass_s": t["pass_s"],
        "trace.overhead_s": t["pass_s"] - res["pass_s"],
    }


UNITS = {
    "setup_s": "s", "pass_s": "s", "pass_cpu_s": "s", "query_p50_s": "s", "query_geomean_s": "s",
    "query_tail_s": "s",
    "success_rate": "ratio", "peak_rss_mb": "MiB", "error_rate": "ratio",
    "materialize_p50_s": "s", "stored_bytes_ratio": "ratio",
}
#: The end-to-end metrics of the JSON result (BENCHMARK.json's
#: ``end_to_end``); the others are printed for the reader only.
JUDGED = ("setup_s", "pass_cpu_s", "success_rate")

LAYER_UNITS = {
    "session.start_s": "s", "catalog.load_s": "s", "queries.build_s": "s",
    "queries.build_jobs": "count", "queries.staging_build_s": "s", "spark.exec_s": "s",
    "spark.driver_only_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.single_task_stages": "count", "spark.slot_use": "ratio",
    "spark.scan_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.gc_s": "s", "streaming.state_bytes_written": "bytes",
    "streaming.micro_batches": "count", "workload.materialize_s": "s",
    "workload.bytes_written": "bytes", "sql_front.rewrite_s": "s", "metrics.run_s": "s",
    "metrics.harvest_s": "s", "workload.report_s": "s", "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail before any set-up when the package is not there
    import bigdatastructure_a5_spark.registry  # noqa: F401

    from perfbench.stats import cpu_jiffies, error_rate, steal_share

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "jvm-tmp", "warehouse"):
        (run_dir / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the JVMs would otherwise keep perf counters under /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None

    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args, run_dir)
    try:
        from bigdatastructure_a5_spark.registry import REGISTRY, _load_all

        from perfbench.workloads import CURATION_ROWS, split_registry

        _load_all()
        run.start_session()
        if args.workload == "denorm_leaderboard":
            res = run_leaderboard(run, bool(args.trace))
        else:
            rel, cur = split_registry({n: q.tags for n, q in REGISTRY.items()})
            missing = set(CURATION_ROWS) - set(cur)
            if missing:
                raise RuntimeError(f"curation rows not in the registry split: {sorted(missing)}")
            rows = rel if args.workload == "registry_relational" else list(CURATION_ROWS)
            res = run_registry(run, rows, bool(args.trace))
        sc = run.spark.sparkContext
        context = {
            "master": sc.master,
            "cores": sc.defaultParallelism,
            "loadavg": list(os.getloadavg()),
            "steal_share": steal_share(run.cpu0, cpu_jiffies()),
        }
        layers = layer_metrics(run, res) if args.trace else None
        rss = run.peak_rss_mib()
    finally:
        run.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed, err = error_rate(run.outcomes)
    e2e = {
        "setup_s": res["setup_s"],
        "pass_s": res["pass_s"],
        "pass_cpu_s": res["pass_cpu_s"],
        "query_p50_s": res["query_p50_s"],
        "query_geomean_s": res["query_geomean_s"],
        "query_tail_s": res["query_tail_s"],
        "success_rate": 1.0 - err,
        "peak_rss_mb": rss,
        "error_rate": err,
        "materialize_p50_s": res.get("materialize_p50_s"),
        "stored_bytes_ratio": res.get("stored_bytes_ratio"),
    }
    e2e = {k: v for k, v in e2e.items() if v is not None}
    for name, value in e2e.items():
        print(f"{name} {value:.6g} {UNITS[name]}")
    print(
        f"query_tail_s is p{res['query_tail_pct']:.4g} of {res['query_samples']} "
        f"samples; {len(res['pass_s_all'])} timed pass(es); context {json.dumps(context)}"
    )
    artifacts = WORK / "artifacts"
    artifacts.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {
        "end_to_end": e2e, "context": context, "attempted": attempted, "failed": failed,
        "query_tail_pct": res["query_tail_pct"], "query_samples": res["query_samples"],
        "pass_s_all": res["pass_s_all"], "pass_cpu_s_all": res["pass_cpu_s_all"],
        "op_latency_s": run.op_latency,
    }
    if layers is not None:
        for name, value in layers.items():
            print(f"{name} {value:.6g} {LAYER_UNITS[name]}")
        res["trace"]["tracer"].dump(str(artifacts / f"{stem}-spans.json"))
        record["per_layer"] = layers
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in JUDGED}
    (artifacts / f"{stem}.json").write_text(json.dumps(record, indent=1))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
