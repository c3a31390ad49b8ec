"""Closed-loop benchmark of the engine's read and write paths.

Run from the repository root:

    python3 perfbench/run.py --workload olap_reads --seed 1 --seconds 20 \\
        --trace 0

One client thread sends each operation after the previous one ends,
on ``local[<cpus>]``.  The run generates its inputs from ``--seed``,
builds the workload's fixtures several times (``setup_s`` is their
median), runs one untimed pass whose outputs are checked against the
DuckDB oracle, then times a fixed number of whole units (passes or
cycles): ``--seconds`` over the unit's nominal length, rounded up.
Every run of a workload thus times the same work.  Percentiles of the
pooled latencies are Harrell-Davis estimates (``pct``).  The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics (spans, Spark event log, streaming progress) with
``--trace 1``.  The base tables are ``perfbench/data`` (gen.py); every
state file lives under ``.perfbench/`` in the working directory.

All times are wall seconds.  Next to them the report prints what a
drifting run can be traced to: the Spark job floor, JVM GC time, peak
RSS, the load average and the hypervisor's steal share of busy CPU
time (steal.py) in each timed unit and set-up repetition.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from steal import stolen

SETUP_REPS = 3
FLOOR_EVERY_S = 2.0
# the driver JVM's heap, initial and maximum (see start_spark)
DRIVER_HEAP = "1g"
#: the end-to-end metrics of every workload, printed with --trace 0
E2E_UNITS = {"setup_s": "s", "op_s.p50": "s", "op_s.p90": "s",
             "ops_per_s": "1/s", "peak_rss_mb": "MB"}


def pct(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of percentile ``q`` (0..100): a weighted
    mean of every order statistic, with Beta((n+1)q, (n+1)(1-q))
    weights.  The pooled latencies are a mix of a few operations' own
    clusters; taking the one or two order statistics nearest the rank
    jumps from one cluster to the next, the weighted mean moves
    smoothly between them."""
    v = sorted(values)
    n = len(v)
    if n < 2:
        return v[0] if v else 0.0
    p = q / 100
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(v))


def betainc(a: float, b: float, x: float) -> float:
    """The regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0 or x >= 1.0:
        return 0.0 if x <= 0.0 else 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1) / (a + b + 2):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def _beta_cf(a: float, b: float, x: float) -> float:
    """The continued fraction of I_x(a, b), by Lentz's method."""
    tiny = 1e-300

    def clamp(d):
        return d if abs(d) > tiny else tiny

    c, d = 1.0, 1.0 / clamp(1.0 - (a + b) * x / (a + 1))
    h = d
    for m in range(1, 500):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x
                    / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 / clamp(1.0 + num * d)
            c = clamp(1.0 + num / c)
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


class Ctx:
    """State shared by the run and its workload."""

    def __init__(self, run_dir: str, data_dir: str, plan: dict, oracle,
                 tracer):
        self.run_dir, self.data_dir = run_dir, data_dir
        self.warehouse = os.path.join(run_dir, "warehouse")
        self.plan, self.oracle, self.tracer = plan, oracle, tracer
        self.traced = False  # a traced run (ctx.tracer is set per unit)
        self.spark = None
        self.n_ops = 0
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        # (kind, name, wall seconds) of every timed operation
        self.lat: list[tuple[str, str, float]] = []
        self.floor: list[float] = []
        self._last_floor = 0.0
        self.floor_s_total = 0.0
        self.compactions: list[tuple] = []
        # timed units: wall seconds (floor samples left out), steal
        # share, and the [lo, hi) slice of ``lat`` they produced
        self.units: list[dict] = []
        self.extra: dict = {}
        self.setup_rep = 0

    def fail(self, name: str, ex: BaseException) -> None:
        msg = f"{type(ex).__name__}: {str(ex).strip().splitlines()[0][:300]}" \
            if str(ex).strip() else type(ex).__name__
        self.failures.append((name, msg))

    def compare(self, cols, rows, name: str, sql: str) -> str:
        from oracle import compare

        return compare(cols, rows, self.oracle.answer(name, sql))

    def compare_rows(self, cols, rows, expected) -> str:
        from oracle import compare

        return compare(cols, rows, expected)

    @contextlib.contextmanager
    def phase(self, tag: str, phase: str, layer: str | None):
        """Tag the Spark jobs of one operation phase with a job group,
        inside a span of ``layer`` (yielded); a no-op when tracing is
        off."""
        tr = self.tracer
        if tr is None:
            yield None
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{tag}::{phase}", tag)
        try:
            if layer is None:
                yield None
            else:
                with tr.span(layer, phase) as rec:
                    yield rec
        finally:
            sc.setJobGroup("idle", "idle")

    @staticmethod
    def catalyst(df, rec) -> None:
        """Traced runs only: plan ``df`` and record its Catalyst phase
        times (analysis, optimization, planning) on span ``rec``.  The
        noop write plans its own copy, so this planning is extra work
        that the tracing overhead includes."""
        if rec is None:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        total = 0.0
        while it.hasNext():
            total += it.next()._2().durationMs()
        rec["plan_ms"] = total

    @contextlib.contextmanager
    def unit(self):
        """One timed pass or cycle."""
        lo, floor0 = len(self.lat), self.floor_s_total
        with stolen() as m:
            yield
        self.units.append({
            "wall": m["wall"] - (self.floor_s_total - floor0),
            "steal": m["steal"], "lo": lo, "hi": len(self.lat)})

    def sample_floor(self) -> None:
        """Time a trivial noop job (the Spark job floor) every
        FLOOR_EVERY_S; the sample is left out of the timed wall time."""
        now = time.perf_counter()
        if now - self._last_floor < FLOOR_EVERY_S:
            return
        t0 = time.perf_counter()
        self.spark.range(1).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        self.floor.append(dt)
        self.floor_s_total += dt
        self._last_floor = time.perf_counter()


# ------------------------------------------------------------ inputs


def data_alias(data_dir: str, run_dir: str, rep: int) -> str:
    """A second path to the same files (hard links), so the package's
    per-dataset fixture cache builds every fixture again."""
    d = os.path.join(run_dir, f"data{rep}")
    os.makedirs(d)
    for f in os.listdir(data_dir):
        if not f.endswith(".parquet"):
            continue
        src, dst = os.path.join(data_dir, f), os.path.join(d, f)
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)
    return d


# ----------------------------------------------------------- session


def start_spark(run_dir: str, trace: bool):
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap: with the package's default (an 8g maximum and
        # the JVM's initial size), how far the collector grew the heap
        # decided peak RSS, which spread by 0.13-0.16 (quartile distance
        # over median) across five seeds of olap_reads; with 1g fixed
        # it spread by 0.03-0.05 on either workload
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP}",
    }
    if trace:
        ev = os.path.join(run_dir, "eventlog")
        os.makedirs(ev)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ev,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from olap_storage_engine_spark import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_state(spark) -> tuple[int, float]:
    """(JVM pid, total GC milliseconds so far)."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(0, b.getCollectionTime())
                for b in mf.getGarbageCollectorMXBeans())
    return int(jvm.java.lang.ProcessHandle.current().pid()), float(gc_ms)


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """Peak resident memory (MB) of the driver JVM and of this
    process."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return jvm_kb / 1024.0, py_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to
    exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------- run


def timed_window(ctx, wl, units: int, tracer) -> list[dict]:
    """Time ``units`` units.  A traced run alternates ``units`` untraced
    and ``units`` traced ones, with the event log on for both; only
    traced units stay in ``ctx.units`` and ``ctx.lat``, and the
    untraced ones are returned."""
    import spans

    plain = []
    listener = None if tracer is None else spans.add_stream_listener(
        ctx.spark, tracer)
    for _ in range(units):
        if tracer is None:
            wl.timed(1)
        else:
            n = len(ctx.units)
            wl.timed(1)
            plain += ctx.units[n:]
            del ctx.lat[ctx.units[n]["lo"]:], ctx.units[n:]
            ctx.tracer, undo = tracer, spans.install(tracer)
            wl.timed(1)
            undo()
            ctx.tracer = None
    if listener is not None:
        ctx.spark.streams.removeListener(listener)
    return plain


def pooled(units: list[dict], lat: list, key: int = 0
           ) -> tuple[dict, float, int]:
    """Latencies by kind (``key`` 0) or by name (1), wall seconds and
    the operation count of ``units``."""
    by: dict[str, list] = {}
    wall, n = 0.0, 0
    for u in units:
        wall += u["wall"]
        n += u["hi"] - u["lo"]
        for op in lat[u["lo"]:u["hi"]]:
            by.setdefault(op[key], []).append(op[2])
    return by, wall, n


def run(args, root: str) -> dict:
    sys.path.insert(0, root)
    import gen
    from oracle import OracleCache
    from workloads import WORKLOADS

    work = os.path.join(root, ".perfbench")
    data_dir = gen.DATA_DIR
    os.makedirs(work, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=work)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # everything the package, Spark and its Python workers write stays
    # in the run directory; workers import the package from the root
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # every JVM, the launcher's too: temp files in the run directory and
    # no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")

    cls = WORKLOADS[args.workload]
    units = max(1, math.ceil(args.seconds / cls.unit_s))
    plan = cls.plan(args.seed, units * (2 if args.trace else 1))

    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer()
    oracle = OracleCache(os.path.join(work, "oracle"), data_dir)
    # set-up and the check pass run untraced in both modes
    ctx = Ctx(run_dir, data_dir, plan, oracle, None)
    ctx.traced = tracer is not None
    t0 = time.perf_counter()
    spark = ctx.spark = start_spark(run_dir, bool(args.trace))
    boot_s = time.perf_counter() - t0
    report: dict = {"workload": args.workload, "seed": args.seed,
                    "plan_digest": gen.digest(plan), "cpus": int(cpus),
                    "boot_s": boot_s}
    try:
        jvm_pid, _ = jvm_state(spark)
        wl = cls(ctx)
        setups, artifacts = [], {}
        for rep in range(SETUP_REPS):
            ctx.setup_rep = rep
            d = data_alias(data_dir, run_dir, rep)
            with stolen() as m:
                for name, s in wl.setup(d).items():
                    artifacts.setdefault(name, []).append(s)
            setups.append(m)
        t = time.perf_counter()
        wl.check()
        report["check_s"] = time.perf_counter() - t
        oracle.close()

        _, gc0 = jvm_state(spark)
        plain = timed_window(ctx, wl, units, tracer)
        _, gc1 = jvm_state(spark)
        load1 = os.getloadavg()[0]
        wl.finish()
        rss_parts = peak_rss_mb(jvm_pid)
        heap = spark.sparkContext._jvm.java.lang.management \
            .ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        heap_mb = (heap.getCommitted() / 2**20, heap.getMax() / 2**20)
    finally:
        try:
            stop_spark(spark)
        except Exception:  # noqa: BLE001 - report, keep the run's own error
            traceback.print_exc()

    by_kind, wall, n_ops = pooled(ctx.units, ctx.lat)
    lat = [s for v in by_kind.values() for s in v]
    rss = sum(rss_parts)
    e2e = {
        "setup_s": (statistics.median(m["wall"] for m in setups), "s",
                    len(setups)),
        "op_s.p50": (pct(lat, 50), "s", n_ops),
        "op_s.p90": (pct(lat, 90), "s", n_ops),
        "ops_per_s": (n_ops / wall if wall > 0 else 0.0, "1/s", n_ops),
        "peak_rss_mb": (rss, "MB", 1),
    }
    n_fail = len(ctx.failures)
    report.update({
        "setup_reps_s": [m["wall"] for m in setups],
        "timed_wall_s": wall,
        "attempted": ctx.attempted,
        "fail_frac": n_fail / max(1, ctx.attempted),
        "failures": ctx.failures,
        "spark.job_floor_s": statistics.median(ctx.floor) if ctx.floor
        else 0.0,
        "jvm_gc_ms": gc1 - gc0,
        "loadavg_1m": load1,
        "steal": [round(u["steal"], 3) for u in ctx.units],
        "setup_steal": [round(m["steal"], 3) for m in setups],
        "unit_walls_s": [round(u["wall"], 3) for u in ctx.units],
        "peak_rss_mb": rss,
        "rss_jvm_py_mb": [round(v) for v in rss_parts],
        "heap_committed_max_mb": [round(v) for v in heap_mb],
        "ops_by_name": {k: [len(v), round(pct(v, 50), 3), round(max(v), 3)]
                        for k, v in pooled(ctx.units, ctx.lat, 1)[0].items()},
    })
    if "write" in by_kind:
        reads = by_kind.get("read", [])
        e2e.update({
            "read_s.p50": (pct(reads, 50), "s", len(reads)),
            "read_s.p90": (pct(reads, 90), "s", len(reads)),
            "write_s.p50": (pct(by_kind["write"], 50), "s",
                            len(by_kind["write"])),
        })
        for k in ("write_amp", "space_amp"):
            if k in ctx.extra:
                e2e[k] = (ctx.extra[k], "ratio", 1)
    report["end_to_end"] = {k: {"value": v, "unit": u, "samples": n}
                            for k, (v, u, n) in e2e.items()}

    if tracer is None:
        metrics = {k: {"value": e2e[k][0], "unit": u}
                   for k, u in E2E_UNITS.items()}
    else:
        _, plain_wall, plain_n = pooled(plain, [])
        metrics = traced_metrics(args, ctx, tracer, run_dir, work, e2e,
                                 artifacts, plain_n / plain_wall, wall,
                                 report)
    return {"correct": n_fail == 0, "attempted": ctx.attempted,
            "failed": n_fail, "metrics": metrics, "_report": report,
            "_run_dir": run_dir}


def traced_metrics(args, ctx, tracer, run_dir, work, e2e, artifacts,
                   plain_ops_per_s, wall, report) -> dict:
    import glob

    import spans

    logs = glob.glob(os.path.join(run_dir, "eventlog", "*"))
    groups = spans.parse_event_log(logs[0]) if logs else {}
    extra = dict(ctx.extra)
    extra["timed_wall_s"] = wall
    extra["spark.job_floor_s"] = report["spark.job_floor_s"]
    for name, vals in artifacts.items():
        extra[f"fixtures.{name}_s"] = statistics.median(vals)
    comp = [s for s in tracer.spans if s["layer"] == "compaction"]
    if comp:
        extra["compaction.compact_s"] = statistics.mean(
            s["end"] - s["start"] for s in comp)
    for k in ("read_s.p50", "read_s.p90", "write_s.p50"):
        if k in e2e:
            extra[k] = e2e[k][0]
    traced = e2e["ops_per_s"][0]
    extra["trace.overhead"] = traced / plain_ops_per_s if plain_ops_per_s \
        else 0.0
    m, where = spans.layer_metrics(tracer.spans, groups, tracer.progress,
                                   tracer.counts, extra)
    if "segment_files" in extra:
        seg_ops = {s["op"] for s in tracer.spans if s["layer"] == "segment"
                   and s["op"] is not None}
        tasks = [groups.get(f"{o}::exec", {}).get("tasks", 0)
                 for o in seg_ops]
        if tasks:
            m["segment.files_pruned"] = statistics.mean(
                max(0, extra["segment_files"] - t) for t in tasks)
    out_dir = os.path.join(work, "trace")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    tracer.dump(stem + ".spans.json")
    if logs:
        shutil.copy(logs[0], stem + ".eventlog.json")
    with open(stem + ".layers.json", "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "metrics": m, "where": where}, f, indent=1)
    report["where"] = where
    return {k: {"value": v, "unit": spans.LAYER_UNITS[k]}
            for k, v in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["olap_reads", "ingest_compact"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    missing = [p for p in ("__spark_entry__.py",
                           "olap_storage_engine_spark/__init__.py",
                           "tools/compare.py")
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}",
              file=sys.stderr)
        return 2
    try:
        out = run(args, root)
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        return 1
    report = out.pop("_report")
    shutil.rmtree(out.pop("_run_dir"), ignore_errors=True)
    print_report(report)
    print(json.dumps(out))
    return 0


def print_report(r: dict) -> None:
    print(f"workload {r['workload']}  seed {r['seed']}  plan "
          f"{r['plan_digest']}  cpus {r['cpus']}  boot {r['boot_s']:.2f}s  "
          f"check {r.get('check_s', 0):.2f}s  setup reps "
          + " ".join(f"{s:.2f}" for s in r["setup_reps_s"]))
    print(f"{'metric':14s} {'value':>12s} {'unit':6s} samples")
    for k, v in r["end_to_end"].items():
        print(f"{k:14s} {v['value']:12.4f} {v['unit']:6s} {v['samples']}")
    print(f"{'fail_frac':14s} {r['fail_frac']:12.4f} {'ratio':6s} "
          f"{r['attempted']}")
    print(f"drift: job_floor_s {r['spark.job_floor_s']:.4f}  jvm_gc_ms "
          f"{r['jvm_gc_ms']:.0f}  peak_rss_mb {r['peak_rss_mb']:.0f} "
          f"(jvm, python) {r['rss_jvm_py_mb']}  heap (committed, max) "
          f"{r['heap_committed_max_mb']}  "
          f"loadavg_1m {r['loadavg_1m']:.2f}  steal {r['steal']}  "
          f"setup_steal {r['setup_steal']}  units_s {r['unit_walls_s']}  "
          f"ops (n, p50, max) {r['ops_by_name']}")
    for name, why in r["failures"]:
        print(f"FAILED {name}: {why}")
    if "where" in r:
        print("where the timed seconds go, by layer (self time):")
        for k, v in r["where"].items():
            print(f"  {k:18s} {v}")


if __name__ == "__main__":
    sys.exit(main())
