"""The repository's benchmark: one closed-loop client, two workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Every input, scratch file and Spark
artifact lives under ``.bench_build/perfbench/`` in that checkout: the
first run generates the fixture tables there (``datagen.py``), every run
gets its own scratch directory, removed when it ends, and keeps its spans
and result under ``.bench_build/perfbench/runs/``.

One run: start Spark on ``local[nproc]`` and warm it up (``setup_s``);
run one untimed pass (``workloads.check_ops``): for ``queries`` the
frozen operation list of ``workloads.py``, every output checked against
``reference.json``; for ``etl_snapshot`` a small seed snapshot that
creates the live tables every timed snapshot then replaces. Then time
whole passes of the operation list, in seed-permuted order, until
``--seconds`` have passed and at least ``MIN_PASSES`` have run; for
``etl_snapshot``, check the returned and promoted row counts afterwards.
The last line of standard output is one JSON object ``{"correct",
"attempted", "failed", "metrics"}``; the line before it records the run
context (master, parallelism, nproc, load averages). A failed operation
— one that raises or whose output does not match — is counted in
``failed``, never dropped, and makes the run exit 1.

End-to-end metrics (``--trace 0``): ``setup_s`` from process start to a
warmed-up session; ``run_s``, the median wall time of a pass;
``op_geomean_s`` and ``op_p90_s`` over the latencies of the timed
operations (a query key's build plus its ``noop``-writer materialization,
as bench.py times it; a whole snapshot).

``--trace 1`` launches Spark with an uncompressed event log, registers a
streaming listener, wraps the ETL layers' functions and forces each
query's physical plan before it runs; it reports the per-layer metrics,
each as the median over the run's timed passes. ``trace.run_s`` is the
traced pass time: minus the untraced ``run_s`` it gives the tracing
overhead.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
REFERENCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "reference.json")
DEADLINE_S = 170  # a run that has not finished by then is killed
# Every run reports a median over at least two timed passes. Three would
# ignore one stalled pass (a 10-25 s stall inside one operation was seen
# on a shared 4-core host), but 22 runs per workload must fit the run
# budget when the host is slow: an etl_snapshot pass then takes ~19 s.
MIN_PASSES = 2


def process_start() -> float:
    """Epoch time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def signature(df) -> dict:
    """Row count plus an order-insensitive value hash, with the driver's
    normalization (tests/oracle.py): columns sorted by name, values
    normalized, rows sorted by their repr."""
    from tests.oracle import _norm

    cols = sorted(df.columns)
    rows = sorted((tuple(_norm(r[c]) for c in cols) for r in df.collect()), key=repr)
    digest = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
    return {"rows": len(rows), "hash": digest}


def output_signature(name: str, df) -> dict:
    """What the check compares for one operation: a memo index build makes
    internal frames, checked by their row counts (the consumer keys'
    hashes cover their values); a query key by ``signature``."""
    if name.startswith("memo:"):
        return {"rows": [f.count() for f in df]}
    return signature(df)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' high-water resident set sizes (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


class Run:
    """One invocation: session, passes, checks and metrics."""

    def __init__(self, args: argparse.Namespace, run_dir: str, sf_dir: str, warm_dir: str):
        from perfbench import tracing

        self.tracer = tracing.Tracer()
        self.args = args
        self.run_dir = run_dir
        self.sf_dir = sf_dir
        self.warm_dir = warm_dir
        self.event_log_dir = os.path.join(run_dir, "eventlog")
        self.traced = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.spark = None
        self.failed = 0
        self.attempted = 0
        self.errors: list[str] = []
        self.check_pass: dict = {"ops": []}
        self.passes: list[dict] = []
        self.context: dict = {}

    # ------------------------------------------------------------ session

    def start(self, t_process: float, datagen_s: float) -> None:
        from cloud2sql_spark.registry import queries
        from cloud2sql_spark.session import get_spark

        from perfbench import tracing, workloads

        self.cores = len(os.sched_getaffinity(0))
        t = time.time()
        self.spark = get_spark("perfbench", cpus=self.cores)
        self.get_spark_s = time.time() - t
        t = time.time()
        self.registry = queries()
        self.spark.range(1000).selectExpr("sum(id)").collect()
        self.registry["agg_groupby"](self.spark, self.warm_dir).collect()
        self.warmup_s = time.time() - t
        self.setup_s = time.time() - t_process - datagen_s
        sc = self.spark.sparkContext
        self.context = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "nproc": self.cores,
            "sf": workloads.SF,
            "loadavg_start": list(os.getloadavg()),
        }
        if self.traced:
            self.listener = tracing.streaming_listener_class()()
            self.spark.streams.addListener(self.listener)

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        procs = descendants(os.getpid())
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        wait_until = time.time() + 20
        while time.time() < wait_until and any(
            os.path.exists(f"/proc/{p}") for p in procs
        ):
            time.sleep(0.05)
        self.spark = None

    # -------------------------------------------------------------- passes

    def one_pass(self, ops: list[str], check: bool) -> dict:
        record = {"start": time.time(), "ops": []}
        if self.args.workload == "queries":
            from cloud2sql_spark.queries.extensions import clear_shingle_cache

            clear_shingle_cache()
        api_calls_before = self.api_calls.value if self.traced else 0
        for name in ops:
            self.attempted += 1
            with self.tracer.span(name, check=check) as op:
                try:
                    sig = self.run_op(op, check)
                    expected = self.reference.get(name)
                    if check and sig != expected:
                        raise AssertionError(f"{name}: output {sig} != reference {expected}")
                except Exception as e:  # noqa: BLE001 — counted, reported, never dropped
                    op.attrs["error"] = repr(e)[:500]
                    self.fail_check(f"{name}: {e!r}")
            record["ops"].append(op)
        if self.traced:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            record["persisted_rdds"] = self.spark.sparkContext._jsc.getPersistentRDDs().size()
            record["api_calls"] = self.api_calls.value - api_calls_before
        record["end"] = time.time()
        return record

    def run_op(self, op, check: bool) -> dict | None:
        from perfbench import workloads

        name = op.name
        if name.startswith(("snapshot:", "seed:")):
            self.snapshot(op)
            return None
        with self.tracer.span("build"):
            if name.startswith("memo:"):
                out = workloads.memo_frames(self.spark, self.sf_dir, name)
            else:
                out = df = self.registry[name](self.spark, self.sf_dir)
        if check:
            with self.tracer.span("collect"):
                return output_signature(name, out)
        if name.startswith("memo:"):
            with self.tracer.span("exec"):
                for frame in out:
                    frame.count()
            return None
        if self.traced:
            with self.tracer.span("plan"):
                df._jdf.queryExecution().executedPlan()
        with self.tracer.span("exec"):
            # the noop writer materializes every output column, as bench.py
            df.write.format("noop").mode("overwrite").save()
        return None

    def snapshot(self, op) -> None:
        from cloud2sql_spark.etl import aws_mock_source as src
        from cloud2sql_spark.etl import pipeline
        from cloud2sql_spark.etl.config import JdbcDestination

        accounts = self.rng.sample(src.DEFAULT_ACCOUNTS, len(src.DEFAULT_ACCOUNTS))
        regions = self.rng.sample(src.DEFAULT_REGIONS, len(src.DEFAULT_REGIONS))
        if op.name.startswith("seed:"):
            accounts, regions = accounts[:1], regions[:1]
        config = {"sources": {"aws_mock": {"accounts": accounts, "regions": regions}}}
        counts = pipeline.collect(
            self.spark, config, JdbcDestination(url=f"{self.derby_url};create=true")
        )
        op.attrs["counts"] = counts
        op.attrs["fetch_tasks"] = len(accounts) * len(regions)

    def check_snapshots(self) -> None:
        """Golden counts, as returned and as read back from the promoted
        tables (outside the timed passes); the seed snapshot must have
        created every table."""
        from cloud2sql_spark.etl.aws_mock_source import GOLDEN_COUNTS

        for op in self.check_pass["ops"]:
            counts = op.attrs.get("counts", {})
            if op.name.startswith("seed:") and "error" not in op.attrs and (
                counts.keys() != GOLDEN_COUNTS.keys() or 0 in counts.values()
            ):
                self.fail_check(f"seed snapshot returned {counts}")
        snapshots = [
            op
            for p in self.passes
            for op in p["ops"]
            if op.name.startswith("snapshot:") and "error" not in op.attrs
        ]
        for op in snapshots:
            if op.attrs["counts"] != GOLDEN_COUNTS:
                self.fail_check(f"snapshot returned {op.attrs['counts']} != {GOLDEN_COUNTS}")
        if not snapshots:
            return
        counts_sql = " UNION ALL ".join(
            f"SELECT CAST('{t}' AS VARCHAR(128)) AS t, COUNT(*) AS n FROM {t}"
            for t in GOLDEN_COUNTS
        )
        try:
            rows = (
                self.spark.read.format("jdbc")
                .option("url", self.derby_url)
                .option("query", counts_sql)
                .load()
                .collect()
            )
            read_back = {r["T"]: r["N"] for r in rows}
        except Exception as e:  # noqa: BLE001 — a missing table is a failed check
            self.fail_check(f"reading back the promoted tables: {e!r}")
            return
        if read_back != GOLDEN_COUNTS:
            self.fail_check(f"promoted tables hold {read_back} != {GOLDEN_COUNTS}")

    def fail_check(self, message: str) -> None:
        self.failed += 1
        self.errors.append(message[:500])

    def execute(self) -> None:
        from perfbench import tracing, workloads

        workload = self.args.workload
        self.derby_url = "jdbc:derby:" + os.path.join(self.run_dir, "derby", "snapshots")
        with open(REFERENCE) as f:
            self.reference = json.load(f)["queries"]
        patches = []
        if self.traced:
            from cloud2sql_spark.etl import aws_mock_source, pipeline, sinks

            self.api_calls = self.spark.sparkContext.accumulator(0)
            patches = [
                # the one mock-cloud API the snapshot calls, per account x region
                (aws_mock_source, "_fetch_region", tracing.counted_by(self.api_calls)),
                (pipeline, "flatten_graph", tracing.timed_by(self.tracer, "flatten")),
                (sinks.JdbcSnapshotWriter, "stage", tracing.timed_by(self.tracer, "stage")),
                (sinks.JdbcSnapshotWriter, "swap", tracing.timed_by(self.tracer, "swap")),
            ]
        with contextlib.ExitStack() as stack:
            for owner, attr, make in patches:
                stack.enter_context(tracing.patched(owner, attr, make))
            self.check_pass = self.one_pass(workloads.check_ops(workload, self.rng), check=True)
            deadline = time.time() + self.args.seconds
            while True:
                self.passes.append(
                    self.one_pass(workloads.pass_ops(workload, self.rng), check=False)
                )
                if time.time() >= deadline and len(self.passes) >= MIN_PASSES:
                    break
        self.rss_mb = peak_rss_mb([os.getpid(), *descendants(os.getpid())])
        self.check_snapshots()
        self.context["loadavg_end"] = list(os.getloadavg())

    # ------------------------------------------------------------- metrics

    def end_to_end(self) -> dict:
        latencies = [
            op.duration
            for p in self.passes
            for op in p["ops"]
            if "error" not in op.attrs
        ]
        if not latencies:
            raise RuntimeError("every timed operation failed")
        return {
            "setup_s": (self.setup_s, "s"),
            "run_s": (statistics.median(p["end"] - p["start"] for p in self.passes), "s"),
            "op_geomean_s": (statistics.geometric_mean(latencies), "s"),
            "op_p90_s": (p90(latencies), "s"),
        }

    def per_layer(self) -> dict:
        from perfbench import tracing

        jobs = tracing.read_event_log(tracing.event_log_file(self.event_log_dir))
        tracing.attribute(jobs, self.tracer)
        rows = [self.layer_row(p, jobs) for p in self.passes]
        return {
            name: (statistics.median(r[name][0] for r in rows), unit)
            for name, (_, unit) in rows[0].items()
        }

    def layer_row(self, p: dict, jobs: list) -> dict[str, tuple[float, str]]:
        """Per-layer metrics of one timed pass: name -> (value, unit)."""
        from perfbench import tracing, workloads

        ops = p["ops"]
        op_ids = {op.id for op in ops}
        spans = [s for s in self.tracer.spans if s.op in op_ids]
        pj = [j for j in jobs if j.op in op_ids]

        def span_sum(name: str) -> float:
            return sum(s.duration for s in spans if s.name == name)

        build_jobs = [j for j in pj if j.in_build]
        eager = {j.op for j in build_jobs}
        exec_s = tracing.covered([(j.submitted, j.completed) for j in pj])
        task_run_s = sum(j.task_run_s for j in pj)
        op_s = sum(op.duration for op in ops)
        progress = [
            e for e in self.listener.progress if p["start"] <= e["received"] <= p["end"]
        ]
        snap_ops = [op for op in ops if op.name.startswith("snapshot:")]
        snap_jobs = [j for j in pj if j.op in {op.id for op in snap_ops}]
        count_s = 0.0
        for op in snap_ops:
            mine = [s for s in spans if s.op == op.id]
            stages = [s for s in mine if s.name == "stage"]
            swaps = [s for s in mine if s.name == "swap"]
            if stages and swaps:
                count_s += swaps[0].start - stages[0].start - sum(s.duration for s in stages)
        fetch_tasks = sum(op.attrs.get("fetch_tasks", 0) for op in snap_ops)
        return {
            "session.get_spark_s": (self.get_spark_s, "s"),
            "session.warmup_s": (self.warmup_s, "s"),
            "session.peak_rss_mb": (self.rss_mb, "MB"),
            "queries.build_s": (span_sum("build"), "s"),
            "queries.interactive_s": (
                sum(op.duration for op in ops if op.name in workloads.QUERY_INTERACTIVE),
                "s",
            ),
            "queries.iterative_s": (
                sum(
                    op.duration
                    for op in ops
                    if op.name in workloads.QUERY_ITERATIVE or op.name.startswith("memo:")
                ),
                "s",
            ),
            "queries.build_share": (span_sum("build") / op_s if op_s else 0.0, "ratio"),
            "queries.build_jobs": (len(build_jobs), "count"),
            "queries.eager_keys": (len(eager), "count"),
            "engine.plan_s": (span_sum("plan"), "s"),
            "engine.exec_s": (exec_s, "s"),
            "engine.jobs": (len(pj), "count"),
            "engine.stages": (sum(j.stages_run for j in pj), "count"),
            "engine.tasks": (sum(j.tasks for j in pj), "count"),
            "engine.jobs_per_key": (len(pj) / len(ops), "count"),
            "engine.task_cpu_s": (sum(j.task_cpu_s for j in pj), "s"),
            "engine.task_run_s": (task_run_s, "s"),
            "engine.gc_s": (sum(j.gc_s for j in pj), "s"),
            "engine.shuffle_write_bytes": (sum(j.shuffle_write_bytes for j in pj), "bytes"),
            "engine.spill_bytes": (sum(j.spill_bytes for j in pj), "bytes"),
            "engine.input_bytes": (sum(j.input_bytes for j in pj), "bytes"),
            "engine.busy_ratio": (
                task_run_s / (exec_s * self.cores) if exec_s else 0.0,
                "ratio",
            ),
            "extensions.index_build_s": (
                sum(op.duration for op in ops if op.name.startswith("memo:")),
                "s",
            ),
            "extensions.persisted_rdds": (p["persisted_rdds"], "count"),
            "streaming.batches": (len(progress), "count"),
            "streaming.input_rows": (sum(e["input_rows"] for e in progress), "count"),
            "streaming.trigger_s": (sum(e["trigger_s"] for e in progress), "s"),
            "streaming.add_batch_s": (sum(e["add_batch_s"] for e in progress), "s"),
            "etl.api_calls": (p["api_calls"], "count"),
            "etl.api_calls_per_task": (
                p["api_calls"] / fetch_tasks if fetch_tasks else 0.0,
                "ratio",
            ),
            "etl.flatten_s": (span_sum("flatten"), "s"),
            "etl.stage_s": (span_sum("stage"), "s"),
            "etl.count_s": (count_s, "s"),
            "etl.promote_s": (span_sum("swap"), "s"),
            "etl.jobs": (len(snap_jobs), "count"),
            "etl.tasks": (sum(j.tasks for j in snap_jobs), "count"),
            "etl.rows": (
                sum(sum(op.attrs.get("counts", {}).values()) for op in snap_ops),
                "count",
            ),
            "trace.run_s": (p["end"] - p["start"], "s"),
        }


def prepare_environment(args: argparse.Namespace) -> str:
    """Per-run scratch inside the checkout; Spark and Python temp files,
    Derby and the event log all land there. Returns the run directory."""
    run_dir = os.path.join(
        BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    tmp = os.path.join(run_dir, "tmp")
    work = os.path.join(run_dir, "work")
    for d in (tmp, work, os.path.join(run_dir, "eventlog")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # The session's default scratch is /dev/shm, but a run may write only
    # inside its checkout. A queries pass shuffles ~2 MB and spills nothing
    # (engine.shuffle_write_bytes, engine.spill_bytes), an ETL pass ~15 KB.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # Python workers must import the package (mapInPandas / pandas UDFs)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Dderby.system.home={os.path.join(run_dir, 'derby')}"
    )
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", java_opts,
    ]
    if args.trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(run_dir, 'eventlog')}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    # the short-lived JVM spark-submit runs first to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(work)
    return run_dir


def main(argv: list[str] | None = None) -> int:
    t_process = process_start()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2
    try:
        import cloud2sql_spark.registry  # noqa: F401 — the program under test
    except ImportError as e:
        print(f"cannot import the program: {e}", file=sys.stderr)
        return 2
    run_dir = prepare_environment(args)

    def on_deadline(signum, frame):
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            gateway.proc.kill()
        print(f"run exceeded {DEADLINE_S}s", file=sys.stderr)
        os._exit(3)

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)

    from perfbench import datagen

    t = time.time()
    sf_dir = datagen.ensure(os.path.join(BUILD, "data"), workloads.SF)
    warm_dir = datagen.ensure(os.path.join(BUILD, "data"), workloads.WARMUP_SF)
    datagen_s = time.time() - t
    run = Run(args, run_dir, sf_dir, warm_dir)
    try:
        try:
            run.start(t_process, datagen_s)
            run.execute()
        finally:
            run.stop()
        metrics = run.per_layer() if run.traced else run.end_to_end()
        run.tracer.dump(os.path.join(run_dir, "spans.jsonl"))
    finally:
        for scratch in ("tmp", "local", "derby", "eventlog", "work"):
            shutil.rmtree(os.path.join(run_dir, scratch), ignore_errors=True)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"context": run.context, "errors": run.errors, **result}, f, indent=1)
    for err in run.errors:
        print(f"FAILED {err}", file=sys.stderr)
    print(json.dumps({"context": run.context}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
