"""The repository's benchmark: drive the query registry in a closed loop and
print one JSON line of metrics.

    python3 perfbench/run.py --workload statement_sql --seed 1 --seconds 20 --trace 0

One client runs one query at a time on ``local[nproc]``, so Spark never has
more task threads than cores. A run:

1. generates the input tables (``datagen.py``; cached under ``.work``);
2. set-up, timed as ``setup_s``: imports, session start, one untimed pass
   that reads every table the queries touch and checks every query's output
   against its DuckDB-oracle digest (``expected.json``), and one untimed
   warm-up pass like the timed ones;
3. the timed passes: as many as ``--seconds`` holds at the workload's
   nominal pass time (``Workload.pass_s``), so the run takes about that long.
   The count is fixed, not the time: the JVM is still compiling during these
   passes and each pass runs faster than the one before, so a run that
   stopped on the clock would take its median from earlier, slower passes
   whenever the host ran slow. The seed permutes the query order of each
   pass and names the corpus copies; nothing else depends on it.

Each query is ``registry.all_queries()[name].fn(spark, sf_dir)`` materialised
through the noop sink. Each pass is checked against its workload's store
tiers: ``statement_sql`` makes no memo or store call, and ``corpus_cold``
publishes every family it looks up and hits nothing. On ``corpus_cold`` every
query reads a fresh corpus copy over an emptied store, so what a query builds
does not depend on the order the seed gives the pass.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans and
per-job stage metrics and prints the per-layer metrics instead (medians over
the timed passes, counts per pass). A query's time splits into construction
(``Query.fn``), Catalyst planning (the noop write's own analysis, optimization
and planning phases, read from its planning tracker) and execution (the rest
of the write). The spans are written to ``.work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "etl_financial_report_spark"
WORK = os.path.join(HERE, ".work")

sys.path.insert(0, HERE)

import datagen  # noqa: E402
import probe  # noqa: E402
from digest import frame_digest, load_expected  # noqa: E402
from spans import IoProbe, PlanTimes, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: Spark driver heap; the generated inputs are a few MB
DRIVER_MEMORY = "2g"

#: span name -> per-layer self-time metric
SELF_TIME_METRICS = {
    "pass": "self.harness_s",
    "query.construct": "self.construct_s",
    "query.plan": "self.plan_s",
    "query.execute": "self.exec_s",
    "trace.probe": "self.probe_s",
    "io.load_table": "self.io.load_table_s",
    "io.memo": "self.io.memo_s",
    "io.store.lookup": "self.io.store.lookup_s",
    "io.store.publish": "self.io.store.publish_s",
}


def pass_order(names: tuple[str, ...], seed: int, label: str) -> list[str]:
    """The queries of one pass in the order the seed gives that pass."""
    order = list(names)
    random.Random(f"{seed}/{label}").shuffle(order)
    return order


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                continue
    return total


class Bench:
    """One run of one workload: owns the Spark session, the per-run
    directory (corpus copies, index store, Spark scratch) and the probes."""

    def __init__(
        self, workload: str, seed: int, trace: bool, run_dir: str, queries: tuple[str, ...] = ()
    ) -> None:
        self.workload = WORKLOADS[workload]
        self.names = queries or self.workload.queries
        self.seed = seed
        self.run_dir = run_dir
        self.store = os.path.join(run_dir, "store")
        self.tracer = Tracer(trace)
        self.io = IoProbe(self.tracer)
        self.plan_times = PlanTimes()
        self.expected = load_expected()
        self.attempted = 0
        self.failures: list[str] = []
        self.tier_errors: list[str] = []
        self.spark = None
        self._gateway = None
        self.root_pid = os.getpid()

    # ------------------------------------------------------------ lifecycle
    def start(self) -> None:
        """Environment, imports and session: the program's own set-up."""
        tmp = os.path.join(self.run_dir, "tmp")
        for d in (self.store, tmp):
            os.makedirs(d, exist_ok=True)
        pypath = os.environ.get("PYTHONPATH")
        env = {
            # Python workers import the package whatever their cwd is
            "PYTHONPATH": ROOT + (os.pathsep + pypath if pypath else ""),
            # the index store is the run's own: nothing left over serves a query
            "SPARK_GRAFT_INDEX_ROOT": self.store,
            "SPARK_GRAFT_INDEX_STORE": "1",
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(self.run_dir, "spark-local"),
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": " ".join(
                shlex.quote(a)
                for a in (
                    "--conf",
                    f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                    "--conf",
                    f"spark.sql.warehouse.dir={os.path.join(self.run_dir, 'warehouse')}",
                    "--conf",
                    "spark.ui.showConsoleProgress=false",
                    "pyspark-shell",
                )
            ),
        }
        os.environ.update(env)
        sys.path.insert(0, ROOT)

        from etl_financial_report_spark import io as pio

        if os.path.dirname(os.path.abspath(pio.__file__)) != os.path.join(ROOT, PKG):
            raise RuntimeError(f"{PKG} imported from {pio.__file__}, not from {ROOT}")
        self.io.install(pio)  # before the registry imports the operators
        from etl_financial_report_spark import registry
        from etl_financial_report_spark.session import get_spark

        self.queries = registry.all_queries()
        missing = [n for n in self.names if n not in self.queries]
        if missing:
            raise RuntimeError(f"queries not registered: {missing}")
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gateway = self.spark.sparkContext._gateway
        self.jvm_pid = probe.jvm_pid(self.root_pid)
        if self.tracer.enabled:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self._gateway)
            self.spark._jsparkSession.listenerManager().register(self.plan_times)

    def close(self) -> None:
        """Stop Spark, then the JVM, then wait for every process under us."""
        if self.spark is not None:
            self.spark.stop()
        if self._gateway is not None:
            proc = getattr(self._gateway, "proc", None)
            self._gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 30
        while probe.live_descendants(self.root_pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        probe.kill_descendants(self.root_pid)

    # ----------------------------------------------------------- inputs
    def corpus_copy(self, sf_dir: str, label: str) -> str:
        """A fresh directory of the tables (hard links: same bytes, new path)."""
        d = os.path.join(self.run_dir, "corpus", f"s{self.seed}-{label}")
        os.makedirs(d)
        for f in sorted(os.listdir(sf_dir)):
            os.link(os.path.join(sf_dir, f), os.path.join(d, f))
        return d

    def empty_store(self) -> None:
        shutil.rmtree(self.store)
        os.makedirs(self.store)

    # ----------------------------------------------------------- passes
    def run_pass(self, label: str, sf_dir: str, verify: bool = False) -> dict:
        """One pass over the workload's queries in the seed's order, each
        over the inputs ``inputs`` gives it. ``verify`` collects each result
        and compares its digest instead of writing to the noop sink; such a
        pass is never timed."""
        order = pass_order(self.names, self.seed, label)
        traced = self.tracer.enabled and not verify
        self.io.reset()
        stage_sum = dict.fromkeys(probe.STAGE_FIELDS, 0.0)
        stage_sum.update(jobs=0, construct_jobs=0, action_jobs=0)
        lat: dict[str, float] = {}
        cpu0 = probe.cpu_split(self.root_pid, self.jvm_pid)
        steal0 = probe.host_steal_s()
        bytes0 = _dir_bytes(self.store)
        t0 = time.perf_counter()
        with self.tracer.span("pass", label=label):
            root = self.tracer.last_index()
            for name in order:
                qdir = self.inputs(sf_dir, f"{label}-{name}")
                lat[name] = self.run_query(name, qdir, label, verify, traced, stage_sum)
        wall = time.perf_counter() - t0
        print(f"perfbench: pass {label} {wall:.2f}s", file=sys.stderr)
        cpu1 = probe.cpu_split(self.root_pid, self.jvm_pid)
        counts, looked_up, published = self.io.counts, self.io.looked_up, self.io.published
        self.check_tiers(label, counts, looked_up, published)
        out = {
            "wall": wall,
            "lat": lat,
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
            "steal": probe.host_steal_s() - steal0,
            "io": dict(counts),
            "store_bytes": _dir_bytes(self.store) - bytes0,
            "stages": stage_sum,
        }
        if traced:
            out["self"] = self.tracer.self_times(root)
            out["span_s"] = {
                name: sum(
                    s["end"] - s["start"]
                    for s in self.tracer.spans[root:]
                    if s["name"] == name
                )
                for name in ("query.construct", "query.plan", "query.execute")
            }
        return out

    def run_query(
        self, name: str, sf_dir: str, label: str, verify: bool, traced: bool, stage_sum: dict
    ) -> float:
        q = self.queries[name]
        sc = self.spark.sparkContext
        span = self.tracer.span
        group = f"{label}/{name}"
        if traced:
            sc.setJobGroup(group, group)
        self.attempted += 1
        execute = None
        t0 = time.perf_counter()
        try:
            with span("query.construct", query=name):
                df = q.fn(self.spark, sf_dir)
            if traced:
                with span("trace.probe"):
                    stage_sum["construct_jobs"] += len(probe.group_jobs(sc, group))
                    planned = len(self.plan_times.records)
            with span("query.execute", query=name):
                execute = self.tracer.last_index()
                if verify:
                    got = frame_digest(df.toPandas())
                else:
                    df.write.format("noop").mode("overwrite").save()
            if verify and got != self.expected.get(name):
                self.failures.append(f"{label}/{name}: digest {got} != {self.expected.get(name)}")
        except Exception as e:  # a failing query is counted, never dropped
            self.failures.append(f"{label}/{name}: {type(e).__name__}: {str(e)[:300]}")
        dt = time.perf_counter() - t0
        if traced:
            with span("trace.probe", query=name):
                jobs = probe.group_jobs(sc, group)
                names = probe.job_names(sc, jobs)
                self.tracer.spans[-1]["jobs"] = names
                if execute is not None:
                    plan_s = sum(self.plan_times.records[planned:])
                    self.tracer.add_child(execute, "query.plan", plan_s, query=name)
                stage_sum["jobs"] += len(jobs)
                stage_sum["action_jobs"] += sum(not probe.is_stage_job(n) for n in names)
                for k, v in probe.stage_totals(sc, jobs).items():
                    stage_sum[k] += v
        return dt

    def check_tiers(self, label: str, c: dict, looked_up: set, published: set) -> None:
        problems = []
        tier = self.workload.mode
        if tier == "fixed":
            if c["memo.calls"] or c["store.lookups"] or c["store.publishes"]:
                problems.append("memo or store calls on a workload that has none")
        elif tier == "cold":
            if c["store.hits"] or not c["store.publishes"] or c["store.publish_failed"]:
                problems.append("cold pass must build and publish, with no store hit")
            if not looked_up <= published:
                problems.append(f"families looked up but not published: {sorted(looked_up - published)}")
        self.tier_errors.extend(f"{label}: {p} {c}" for p in problems)

    # ----------------------------------------------------------- workload
    def inputs(self, sf_dir: str, label: str) -> str:
        """The table directory a query reads: the one generated directory,
        or for ``cold`` a fresh copy over an emptied store."""
        if self.workload.mode == "fixed":
            return sf_dir
        self.empty_store()
        return self.corpus_copy(sf_dir, label)

    def setup(self, sf_dir: str) -> None:
        """Two untimed passes: one that checks every output, then one through
        the noop sink like the timed passes. The JIT compiles for several
        passes (the second pass in a JVM spends about a third of its CPU in
        compiler threads), so without the second the timed passes would sit
        on the steepest part of that curve, where a slower host also falls
        behind in compiling."""
        self.run_pass("verify", sf_dir, verify=True)
        self.run_pass("warm", sf_dir)

    def timed(self, sf_dir: str, seconds: float) -> list[dict]:
        n = max(1, math.ceil(seconds / self.workload.pass_s))
        return [self.run_pass(f"p{i}", sf_dir) for i in range(n)]


def end_to_end(setup_s: float, passes: list[dict]) -> dict:
    # each query's median latency over the passes, then the median query
    per_query = [statistics.median(p["lat"][q] for p in passes) for q in passes[0]["lat"]]
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(p["wall"] for p in passes), "s"),
        "cpu_s": (statistics.median(p["cpu"]["total"] for p in passes), "s"),
        "query_p50_s": (statistics.median(per_query), "s"),
    }


def per_layer(passes: list[dict], loadavg: float) -> dict:
    def med(f) -> float:
        return statistics.median(f(p) for p in passes)

    out = {
        "traced_pass_s": (med(lambda p: p["wall"]), "s"),
        "construct_s": (med(lambda p: p["span_s"]["query.construct"]), "s"),
        "plan_s": (med(lambda p: p["span_s"]["query.plan"]), "s"),
        "exec_s": (
            med(lambda p: p["span_s"]["query.execute"] - p["span_s"]["query.plan"]),
            "s",
        ),
        "construct_jobs": (med(lambda p: p["stages"]["construct_jobs"]), "count"),
        "jobs": (med(lambda p: p["stages"]["jobs"]), "count"),
        "action_jobs": (med(lambda p: p["stages"]["action_jobs"]), "count"),
    }
    units = {
        "stages": "count",
        "tasks": "count",
        "failed_tasks": "count",
        "executor_run_s": "s",
        "executor_cpu_s": "s",
        "jvm_gc_s": "s",
        "shuffle_read_bytes": "bytes",
        "shuffle_write_bytes": "bytes",
        "spill_bytes": "bytes",
    }
    for k, unit in units.items():
        out[k] = (med(lambda p, k=k: p["stages"][k]), unit)
    for k in (
        "load_table.calls",
        "memo.calls",
        "memo.session_hits",
        "store.lookups",
        "store.publishes",
        "store.publish_failed",
    ):
        out[f"io.{k}"] = (med(lambda p, k=k: p["io"][k]), "count")
    out["io.store.lookup_s"] = (med(lambda p: p["io"]["store.lookup_s"]), "s")
    out["io.store.publish_s"] = (med(lambda p: p["io"]["store.publish_s"]), "s")
    out["io.store.bytes_written"] = (med(lambda p: max(0, p["store_bytes"])), "bytes")
    out["io.reuse_ratio"] = (
        med(lambda p: p["io"]["memo.served"] / p["io"]["memo.calls"] if p["io"]["memo.calls"] else 0.0),
        "ratio",
    )
    out["python_worker_cpu_s"] = (med(lambda p: p["cpu"]["workers"]), "s")
    out["driver_python_cpu_s"] = (med(lambda p: p["cpu"]["driver"]), "s")
    out["jvm_cpu_s"] = (med(lambda p: p["cpu"]["jvm"]), "s")
    out["host.steal_s"] = (med(lambda p: p["steal"]), "s")
    out["host.loadavg"] = (loadavg, "load")
    for span_name, metric in SELF_TIME_METRICS.items():
        out[metric] = (med(lambda p, n=span_name: p["self"].get(n, 0.0)), "s")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--queries",
        default="",
        help="comma-separated subset of the workload's queries (self-tests, debugging)",
    )
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "registry.py")):
        print(f"perfbench: no {PKG} package under {ROOT}", file=sys.stderr)
        return 2
    sf_dir = datagen.ensure_tables(WORK)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    subset = tuple(q for q in args.queries.split(",") if q)
    if not set(subset) <= set(WORKLOADS[args.workload].queries):
        ap.error(f"--queries must name queries of {args.workload}")
    bench = Bench(args.workload, args.seed, bool(args.trace), run_dir, subset)
    try:
        t0 = time.perf_counter()
        bench.start()
        bench.setup(sf_dir)
        setup_s = time.perf_counter() - t0
        passes = bench.timed(sf_dir, args.seconds)
        loadavg = os.getloadavg()[0]
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        metrics = per_layer(passes, loadavg)
        bench.tracer.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
    else:
        metrics = end_to_end(setup_s, passes)
    for msg in bench.failures + bench.tier_errors:
        print(f"perfbench: {msg}", file=sys.stderr)
    result = {
        "correct": not bench.failures and not bench.tier_errors,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
