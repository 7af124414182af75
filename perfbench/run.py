"""Destination benchmark: one closed-loop workload, one client.

    python3 perfbench/run.py --workload ingest_sql --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run boots ``local[nproc]`` Spark
with shuffle partitions = nproc, sets up a fresh engine through
``Engine.from_config`` and loads the workload's fixtures (set-up
time), runs a few untimed operations, then runs the workload's
operations back to back for ``--seconds`` and checks every result.
Everything the run writes — warehouse, Spark local dirs, spool files,
generated inputs — lives under one temporary directory in the
checkout, removed at exit. See METRICS.md for what each figure means.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones from a traced run. The line before it carries the workload's
named figures (``push_p50_ms``, ``read_p50_ms``, ...) with their sample
counts and every latency. The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "quasar_destination_h2_spark"

#: driver heap, fixed at start (-Xms = -Xmx) so the JVM's resident size
#: does not depend on when it chose to grow; the largest input is tens
#: of MB
DRIVER_MEMORY = "1g"

KINDS = ("push", "bulk", "read", "write", "ann", "text", "append", "curate")
EXECUTOR_KINDS = ("bulk", "read", "curate")
DRIVER_KINDS = ("push", "read", "ann", "text")
DML_VERBS = ("insert", "update", "delete", "merge")
CURATE_ENTRIES = ("dedup_clusters", "dedup_keep_best", "dedup_prefix_filter", "kmeans_convergence")
SELF_SPANS = (
    "op", "sink.consume", "sink.spool", "sink.prepare_replace",
    "sink.scan_write", "sink.catalog_persist", "registry", "sql_dml.execute",
    "index.search", "index.append", "curate.build", "spark.collect",
)

END_TO_END = (
    ("setup_s", "s"),
    ("primary_p50_ms", "ms"),
    ("secondary_p50_ms", "ms"),
    ("ops_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric the traced run reports, with its unit."""
    names = [
        ("engine.from_config_ms", "ms"),
        ("sink.consume_ms", "ms"), ("sink.spool_ms", "ms"),
        ("sink.catalog_persist_ms", "ms"), ("sink.prepare_replace_ms", "ms"),
        ("sink.scan_write_ms", "ms"), ("sink.multiline_retries", "count"),
        ("registry.calls_per_op", "count"), ("registry.ms_per_op", "ms"),
        ("sql_dml.front_door_ms", "ms"), ("sql_dml.catalog_rpcs_per_stmt", "count"),
        ("planning.analysis_ms", "ms"), ("planning.optimization_ms", "ms"),
        ("planning.planning_ms", "ms"),
    ]
    names += [(f"dml.{v}_ms", "ms") for v in DML_VERBS]
    names += [
        ("dml.rows_changed", "count"),
        ("storage.bytes_written_per_write", "bytes"),
        ("storage.write_amplification", "ratio"),
    ]
    for k in KINDS:
        names += [
            (f"spark.jobs_per_op.{k}", "count"),
            (f"spark.stages_per_op.{k}", "count"),
            (f"spark.tasks_per_op.{k}", "count"),
        ]
    for k in EXECUTOR_KINDS:
        names += [
            (f"executor.task_ms_per_op.{k}", "ms"),
            (f"executor.input_bytes_per_op.{k}", "bytes"),
            (f"executor.shuffle_read_bytes_per_op.{k}", "bytes"),
            (f"executor.shuffle_write_bytes_per_op.{k}", "bytes"),
            (f"executor.spill_bytes_per_op.{k}", "bytes"),
        ]
    names += [(f"driver.self_ms_per_op.{k}", "ms") for k in DRIVER_KINDS]
    for fam in ("ann", "text"):
        names += [
            (f"index.probe_plan_ms.{fam}", "ms"), (f"index.probe_plan_jobs.{fam}", "count"),
            (f"index.probe_exec_ms.{fam}", "ms"), (f"index.probe_exec_jobs.{fam}", "count"),
        ]
    names += [("index.append_ms", "ms"), ("index.append_bytes_written", "bytes")]
    for e in CURATE_ENTRIES:
        names += [
            (f"curate.{e}.build_ms", "ms"), (f"curate.{e}.exec_ms", "ms"),
            (f"curate.{e}.jobs", "count"),
        ]
    names += [
        ("cache.persisted_rdds_after_op", "count"), ("cache.release_ms", "ms"),
        ("storage.bytes_stored_per_input_byte", "ratio"),
        ("storage.files_written_per_op", "count"),
        ("storage.tmp_dirs_leaked", "count"),
        ("spark.job_ms_per_op", "ms"),
    ]
    names += [(f"self_ms.{s}", "ms") for s in SELF_SPANS]
    names += [("trace.overhead_pct", "%"), ("trace.spans", "count")]
    return names


# ---------------------------------------------------------------------------


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def kinds_p50(samples: list) -> float:
    """Geometric mean over operation kinds of each kind's median latency,
    so the figure does not move with how many of each kind fit in the
    window. ``samples`` = [(kind, seconds)]."""
    by: dict[str, list] = {}
    for k, s in samples:
        by.setdefault(k, []).append(s)
    meds = [median(xs) for xs in by.values()]
    if not meds:
        return float("nan")
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


# ---------------------------------------------------------------------------


class Run:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.tmp_dir = os.path.join(run_dir, "tmp")
        self.warehouse = os.path.join(run_dir, "warehouse")
        self.samples: list[tuple] = []  # (kind, variant, seconds, traced)
        self.warmup: list[tuple] = []  # the same, for untimed operations
        self.records: list[dict] = []  # traced ops
        self.attempted = self.failed = 0
        self.spark = None
        self.tracer = self.probe = None

    # -- session ---------------------------------------------------------

    def boot(self) -> float:
        from pyspark.sql import SparkSession

        from quasar_destination_h2_spark.engine import DEFAULT_SPARK_CONF

        n = os.cpu_count() or 1
        conf = {
            **DEFAULT_SPARK_CONF,
            "spark.sql.shuffle.partitions": str(n),
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            # no hsperfdata file: the JVM would write it under /tmp
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={self.tmp_dir}"
            ),
        }
        t0 = time.perf_counter()
        builder = SparkSession.builder.master(f"local[{n}]").appName("perfbench")
        for k, v in conf.items():
            builder = builder.config(k, v)
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop Spark and wait for the JVM process to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            self.spark = None

    # -- the run -----------------------------------------------------------

    def execute(self) -> dict:
        import tracing
        import workloads
        from quasar_destination_h2_spark.engine import Engine

        args = self.args
        tracer = tracing.Tracer()
        phases = {"start": time.perf_counter()}
        boot_s = self.boot()
        probe = tracing.SparkProbe(self.spark) if args.trace else None
        if probe is not None:
            tracer.job_id = probe.next_job
            tracing.install(tracer)
        ctx = workloads.Ctx(self.spark, tracer, self.run_dir, args.seed, args.scale)
        wl = workloads.WORKLOADS[args.workload]()
        phases["boot"] = time.perf_counter()
        wl.prepare(ctx)
        phases["prepare"] = time.perf_counter()

        t0 = time.perf_counter()
        ctx.engine = Engine.from_config(
            json.dumps({"connectionUri": self.warehouse}), spark=self.spark
        )
        from_config_s = time.perf_counter() - t0
        wl.load(ctx.engine)
        phases["setup"] = time.perf_counter()
        setup_s = boot_s + phases["setup"] - t0

        self.tracer, self.probe = tracer, probe
        ops = wl.ops()
        for _ in range(wl.WARMUP):
            self.step(next(ops), timed=False)
        phases["warmup"] = time.perf_counter()
        # closed loop: the window ends with the operation that crosses
        # the deadline
        deadline = time.perf_counter() + args.seconds
        while True:
            self.step(next(ops), timed=True)
            if time.perf_counter() >= deadline:
                break

        phases["window"] = time.perf_counter()
        peak_kb = vm_hwm_kb("self")
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            peak_kb += vm_hwm_kb(proc.pid)
        ctx.engine.close()
        self.stop()
        tmp_left = len(os.listdir(self.tmp_dir)) if os.path.isdir(self.tmp_dir) else 0
        phases["stop"] = time.perf_counter()
        marks = list(phases.items())
        phase_s = {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])}

        timed = self.samples
        e2e = self.end_to_end(wl, setup_s, peak_kb, timed)
        detail = self.detail(wl, timed)
        detail["phase_s"] = phase_s
        print(json.dumps({"workload": args.workload, "detail": detail}))
        if args.trace:
            metrics = self.per_layer(wl, tracer, from_config_s, tmp_left)
        else:
            metrics = e2e
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def step(self, op, timed: bool) -> None:
        """Run, time and check one operation. A traced run traces every
        untimed operation and every other timed one of each kind and
        variant."""
        import tracing
        from quasar_destination_h2_spark import cache

        tracer, probe = self.tracer, self.probe
        traced = probe is not None and (
            not timed
            or sum(1 for s in self.samples if s[:2] == (op.kind, op.variant)) % 2 == 0
        )
        if traced:
            rec = {"kind": op.kind, "variant": op.variant, "j0": probe.next_job()}
            before = tracing.scan(self.warehouse)
            tracer.begin_op(len(self.records))
        self.attempted += 1
        ok = True
        t_wall = time.time()
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                res = op.run()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok, res = False, None
        dt = time.perf_counter() - t0
        tracer.end_op()
        if traced:
            self.observe(rec, op, res, before, t_wall, dt)
        t_rel = time.perf_counter()
        cache.release()
        if traced:
            rec["release_s"] = time.perf_counter() - t_rel
            rec["persisted"] = probe.persisted_rdds()
            self.records.append(rec)
        if ok:
            try:
                ok = bool(op.check(res))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            if not ok:
                print(f"check failed: {op.kind}/{op.variant}", file=sys.stderr)
        if not ok:
            self.failed += 1
        sample = (op.kind, op.variant, dt if ok else float("nan"), traced if probe else None)
        (self.samples if timed else self.warmup).append(sample)

    def observe(self, rec, op, res, before, t_wall, dt) -> None:
        """Counters of one traced operation, read after its timer stopped."""
        import tracing

        tracer, probe = self.tracer, self.probe
        j1 = probe.next_job()
        jobs = probe.jobs(rec["j0"], j1)
        rec.update(jobs)
        rec["seconds"] = dt
        rec["job_s"] = tracing.covered(jobs["intervals"], t_wall, t_wall + dt)
        mark = tracer.marks.get("plan_end")
        if mark is not None:
            rec["plan_jobs"] = mark - rec["j0"]
            rec["exec_jobs"] = j1 - mark
        rec["counts"] = dict(tracer.counts)
        after = tracing.scan(self.warehouse)
        rec["bytes_written"], rec["files_written"] = tracing.written(before, after)
        spans = tracer.op_spans(tracer.op_id)
        rec["span_s"] = {}
        for s in spans:
            rec["span_s"][s[0]] = rec["span_s"].get(s[0], 0.0) + (s[2] - s[1])
        if res is None:
            return
        if op.kind == "read":
            rec["phases"] = tracing.planning_ms(res[0])
        if op.kind in ("push", "bulk"):
            stored = tracing.dir_bytes(os.path.join(self.warehouse, str(res).lower()))
            rec["stored_ratio"] = stored / op.input_bytes
        if op.kind == "write":
            rec["rows_changed"] = int(res)
            if res:
                rec["amplification"] = rec["bytes_written"] / (res * op.row_bytes)

    # -- metrics -------------------------------------------------------------

    def end_to_end(self, wl, setup_s: float, peak_kb: int, timed: list) -> dict:
        ok = [s for s in timed if not math.isnan(s[2])]
        prim = [(k, s) for k, _, s, _ in ok if k in wl.primary]
        sec = [(k, s) for k, _, s, _ in ok if k in wl.secondary]
        busy = sum(s for _, _, s, _ in ok)
        values = {
            "setup_s": setup_s,
            "primary_p50_ms": 1e3 * kinds_p50(prim),
            "secondary_p50_ms": 1e3 * kinds_p50(sec),
            "ops_per_s": len(ok) / busy if busy else float("nan"),
            "peak_rss_mb": peak_kb / 1024,
        }
        return {k: {"value": values[k], "unit": u} for k, u in END_TO_END}

    def detail(self, wl, timed: list) -> dict:
        """The workload's named figures, each with its sample count."""
        out: dict = {
            "error_rate": self.failed / self.attempted if self.attempted else 0.0,
        }
        by_kind: dict[str, list] = {}
        for k, _, s, _ in timed:
            if not math.isnan(s):
                by_kind.setdefault(k, []).append(s)
        for k, xs in sorted(by_kind.items()):
            xs = sorted(xs)
            out[f"{k}_p50_ms"] = 1e3 * median(xs)
            # a p90 needs >= 10 samples beyond it
            out[f"{k}_p90_ms"] = 1e3 * xs[int(0.9 * len(xs))] if len(xs) >= 100 else None
            out[f"{k}_samples"] = len(xs)
        out["latencies_ms"] = {
            k: [round(1e3 * s, 1) for kk, _, s, _ in timed if kk == k] for k in by_kind
        }
        if hasattr(wl, "exact_vecs"):
            out["ann_min_recall"] = wl.exact_vecs.min_recall
        if "bulk" in by_kind:
            out["bulk_mb_per_s"] = wl.pushes.bulk_bytes / 1e6 / median(by_kind["bulk"])
        # the untimed operations: index_serve's curation pass and each
        # workload's first, cold operations
        out["warmup_ms"] = [[k, v, round(1e3 * s, 1)] for k, v, s, _ in self.warmup]
        curate = [s for k, _, s, _ in self.warmup if k == "curate"]
        if curate:
            out["curate_pass_s"] = sum(curate)
        return out

    def per_layer(self, wl, tracer, from_config_s: float, tmp_left: int) -> dict:
        import tracing

        recs = self.records
        units = dict(per_layer_names())
        vals = {k: 0.0 for k in units}

        def pick(pred):
            return [r for r in recs if pred(r)]

        def avg(rs, f):
            return mean([f(r) for r in rs]) if rs else 0.0

        def cnt(r, k):
            return r["counts"].get(k, 0)

        def span_ms(r, name):
            return 1e3 * r["span_s"].get(name, 0.0)

        vals["engine.from_config_ms"] = 1e3 * from_config_s
        sink_ops = pick(lambda r: r["kind"] in ("push", "bulk"))
        pushes = pick(lambda r: r["kind"] == "push")
        bulks = pick(lambda r: r["kind"] == "bulk")
        vals["sink.consume_ms"] = avg(pushes, lambda r: span_ms(r, "sink.consume"))
        vals["sink.spool_ms"] = avg(pushes, lambda r: span_ms(r, "sink.spool"))
        vals["sink.catalog_persist_ms"] = avg(pushes, lambda r: span_ms(r, "sink.catalog_persist"))
        vals["sink.prepare_replace_ms"] = avg(bulks, lambda r: span_ms(r, "sink.prepare_replace"))
        vals["sink.scan_write_ms"] = avg(bulks, lambda r: span_ms(r, "sink.scan_write"))
        vals["sink.multiline_retries"] = sum(cnt(r, "multiline_retries") for r in sink_ops)
        stmts = pick(lambda r: r["kind"] in ("read", "write"))
        reads = pick(lambda r: r["kind"] == "read")
        writes = pick(lambda r: r["kind"] == "write")
        changes = sink_ops + writes
        vals["registry.calls_per_op"] = avg(changes, lambda r: cnt(r, "registry_calls"))
        vals["registry.ms_per_op"] = avg(changes, lambda r: span_ms(r, "registry"))
        vals["sql_dml.front_door_ms"] = avg(reads, lambda r: span_ms(r, "sql_dml.execute"))
        vals["sql_dml.catalog_rpcs_per_stmt"] = avg(stmts, lambda r: cnt(r, "catalog_rpcs"))
        for phase in ("analysis", "optimization", "planning"):
            vals[f"planning.{phase}_ms"] = avg(reads, lambda r: r.get("phases", {}).get(phase, 0.0))
        for verb in DML_VERBS:
            vals[f"dml.{verb}_ms"] = avg(
                pick(lambda r: r["kind"] == "write" and r["variant"] == verb),
                lambda r: 1e3 * r["seconds"],
            )
        vals["dml.rows_changed"] = avg(writes, lambda r: r.get("rows_changed", 0))
        vals["storage.bytes_written_per_write"] = avg(writes, lambda r: r["bytes_written"])
        amp = [r["amplification"] for r in writes if "amplification" in r]
        vals["storage.write_amplification"] = mean(amp)
        for k in KINDS:
            rs = pick(lambda r: r["kind"] == k)
            vals[f"spark.jobs_per_op.{k}"] = avg(rs, lambda r: r["jobs"])
            vals[f"spark.stages_per_op.{k}"] = avg(rs, lambda r: r["stages"])
            vals[f"spark.tasks_per_op.{k}"] = avg(rs, lambda r: r["tasks"])
            if k in EXECUTOR_KINDS:
                for m in ("task_ms", "input_bytes", "shuffle_read_bytes",
                          "shuffle_write_bytes", "spill_bytes"):
                    vals[f"executor.{m}_per_op.{k}"] = avg(rs, lambda r: r[m])
            if k in DRIVER_KINDS:
                vals[f"driver.self_ms_per_op.{k}"] = avg(
                    rs, lambda r: 1e3 * (r["seconds"] - r["job_s"])
                )
        for fam in ("ann", "text"):
            rs = pick(lambda r: r["kind"] == fam)
            vals[f"index.probe_plan_ms.{fam}"] = avg(rs, lambda r: span_ms(r, "index.search"))
            vals[f"index.probe_plan_jobs.{fam}"] = avg(rs, lambda r: r.get("plan_jobs", 0))
            vals[f"index.probe_exec_ms.{fam}"] = avg(rs, lambda r: span_ms(r, "spark.collect"))
            vals[f"index.probe_exec_jobs.{fam}"] = avg(rs, lambda r: r.get("exec_jobs", 0))
        appends = pick(lambda r: r["kind"] == "append")
        vals["index.append_ms"] = avg(appends, lambda r: 1e3 * r["seconds"])
        vals["index.append_bytes_written"] = avg(appends, lambda r: r["bytes_written"])
        for e in CURATE_ENTRIES:
            rs = pick(lambda r: r["variant"] == e)
            vals[f"curate.{e}.build_ms"] = avg(rs, lambda r: span_ms(r, "curate.build"))
            vals[f"curate.{e}.exec_ms"] = avg(rs, lambda r: span_ms(r, "spark.collect"))
            vals[f"curate.{e}.jobs"] = avg(rs, lambda r: r["jobs"])
        vals["cache.persisted_rdds_after_op"] = avg(recs, lambda r: r["persisted"])
        vals["cache.release_ms"] = avg(recs, lambda r: 1e3 * r["release_s"])
        ratios = [r["stored_ratio"] for r in sink_ops if "stored_ratio" in r]
        vals["storage.bytes_stored_per_input_byte"] = mean(ratios)
        vals["storage.files_written_per_op"] = avg(recs, lambda r: r["files_written"])
        vals["storage.tmp_dirs_leaked"] = tmp_left
        vals["spark.job_ms_per_op"] = avg(recs, lambda r: 1e3 * r["job_s"])
        n_ops = max(1, len(recs))
        for name, secs in tracing.self_times(tracer.spans).items():
            if f"self_ms.{name}" in vals:
                vals[f"self_ms.{name}"] = 1e3 * secs / n_ops
        # every other primary op ran with tracing off: the latency ratio
        # of the two halves is the tracing overhead
        on = kinds_p50([(k, s) for k, _, s, t in self.samples if k in wl.primary and t is True])
        off = kinds_p50([(k, s) for k, _, s, t in self.samples if k in wl.primary and t is False])
        vals["trace.overhead_pct"] = 100.0 * (on / off - 1.0)
        vals["trace.spans"] = len(tracer.spans) / n_ops
        return {k: {"value": vals[k], "unit": u} for k, u in units.items()}


# ---------------------------------------------------------------------------


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest_sql", "index_serve"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=1.0,
        help="multiplier on every generated input size (the smoke test uses a small one)",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    runs = os.path.join(ROOT, ".perfbench-runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=runs)
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir)
    # spool files, Python temp dirs and Spark's local dirs stay in the run
    os.environ["TMPDIR"] = tmp_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    tempfile.tempdir = tmp_dir
    run = Run(args, run_dir)
    try:
        result = run.execute()
    finally:
        run.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass  # another run is using it
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
