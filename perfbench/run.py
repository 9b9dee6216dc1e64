"""Closed-loop benchmark of spatialdata_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One Python process, ``local[<cores>]``
with every core the process may use, one operation at a time.  A run:

1. set-up: import the library, ``get_spark``, one trivial action;
2. runs one cold pass over the workload's operations, then the
   workload's settle passes (run, printed, not counted), then warm
   passes until ``--seconds`` have passed and the warm passes hold at
   least ``MIN_WARM_SAMPLES`` operation samples;
3. checks every operation's output once, outside the timed passes;
4. prints the metrics, then one JSON line.

The inputs are the repository's test corpus, copied byte for byte under
``corpus/`` (see README.md).  ``--seed`` fixes only the order of the
operations in each pass and, for the zarr round trip, the crop box and
the raster offset: every seed runs on the same tables.

With ``--trace 0`` the JSON carries the end-to-end metrics; with
``--trace 1`` the run also records spans, tags each operation's jobs
and writes Spark's event log, and the JSON carries the per-layer
metrics instead (see README.md).  The run directory (stores, event
log, spans, scratch) is deleted on exit.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORPUS = os.path.join(HERE, "corpus")
# a run makes whole warm passes until --seconds have passed and it holds
# this many operation samples.  At BENCHMARK.json's run_seconds the
# sample count, not the clock, ends the warm passes (3 of spatial_join,
# 2 of interactive_small), so the point on the JIT warm-up curve that
# they sample does not depend on how fast the host runs
MIN_WARM_SAMPLES = 15
TAIL_BEYOND = 10


def _process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _child_jvm_pids() -> list[int]:
    me = os.getpid()
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                rest = f.read().rsplit(")", 1)
            comm = rest[0].split("(", 1)[1]
            ppid = int(rest[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me and comm == "java":
            out.append(int(p))
    return out


class Context:
    """What operations see: the session, the input directory, the run
    directory, and (for checks) the DuckDB oracle results."""

    def __init__(self, spark, data_dir: str, run_dir: str, parity):
        self.spark = spark
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.parity = parity
        self._oracles: dict[str, concurrent.futures.Future] = {}

    def start_oracles(self, sqls: list[str], threads: int) -> None:
        """Run the oracle queries on DuckDB in one background thread, so
        they overlap the Spark side of the checks (both are untimed)."""
        con = self.parity.duckdb_conn(self.data_dir)
        con.execute(f"SET threads={threads}")
        con.execute("SET enable_progress_bar=false")
        pool = concurrent.futures.ThreadPoolExecutor(1)
        self._oracles = {sql: pool.submit(lambda q=sql: con.execute(q).fetchdf()) for sql in sqls}
        pool.shutdown(wait=False)  # the queued queries still run

    def oracle(self, sql: str):
        return self._oracles[sql].result()


def _configure_environment(run_dir: str, cores: int, trace: bool) -> str | None:
    """Point every scratch location of Python, the JVM and Spark into
    the run directory; with tracing, turn Spark's event log on there.
    Returns the event-log directory (or None)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # every JVM spark-submit starts (its launcher too): no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = ["--conf", "spark.ui.showConsoleProgress=false"]
    event_dir = None
    if trace:
        event_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(event_dir)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{event_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"
    return event_dir


def _setup(trace_spans):
    """Import the library, start the session, run one trivial action."""
    sys.path.insert(0, ROOT)
    with trace_spans("setup", "import"):
        import __spark_entry__ as entry
        from spatialdata_spark.session import get_spark
    with trace_spans("setup", "session.get_spark"):
        spark = get_spark("perfbench")
    with trace_spans("setup", "trivial_action"):
        spark.range(1).count()
    return entry, spark


def _cache_state(spark) -> tuple[int, float]:
    jsc = spark.sparkContext._jsc
    entries = jsc.getPersistentRDDs().size()
    infos = jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
    return entries, mb


def _rss_mb(jvm_pids: list[int], key: str) -> float:
    return (_status_kb(os.getpid(), key) + sum(_status_kb(p, key) for p in jvm_pids)) / 1024.0


def _tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with ``TAIL_BEYOND`` samples beyond it,
    as (percentile, value); needs more than ``TAIL_BEYOND`` samples."""
    s = sorted(values)
    i = max(0, len(s) - TAIL_BEYOND - 1)
    return 100.0 * (i + 1) / len(s), s[i]


class Recorder:
    """Nested spans, kept in memory; ``tracing`` also tags each
    operation's jobs."""

    def __init__(self, tracing: bool):
        self.tracing = tracing
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        i = len(self.spans)
        self.spans.append({"layer": layer, "name": name, "t0": time.time(), "t1": None,
                           "parent": self._stack[-1] if self._stack else None})
        self._stack.append(i)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[i]["t1"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Self time per span layer: each span's duration minus the part
        its child spans cover (children never overlap: one thread)."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp["parent"] is not None and sp["t1"] is not None:
                child[sp["parent"]] += sp["t1"] - sp["t0"]
        out: dict[str, float] = {}
        for sp, c in zip(self.spans, child):
            if sp["t1"] is not None:
                out[sp["layer"]] = out.get(sp["layer"], 0.0) + (sp["t1"] - sp["t0"]) - c
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


def _run_op(op, ctx, rec: Recorder, pass_no: int) -> dict:
    spark = ctx.spark
    tag = f"perfbench-p{pass_no}-{op.name}"
    if rec.tracing:
        spark.addTag(tag)
    ex = {"op": op.name, "module": op.module, "pass": pass_no, "ok": True, "tag": tag}
    try:
        with rec.span("op", op.name):
            ex["t0"] = time.time()
            p0 = time.perf_counter()
            with rec.span("construct", op.module):
                obj = op.construct(ctx)
            p1 = time.perf_counter()
            ex["t_mat"] = time.time()
            with rec.span("materialize", op.module):
                op.materialize(ctx, obj)
            p2 = time.perf_counter()
            ex["t1"] = time.time()
        ex["construct_s"] = p1 - p0
        ex["seconds"] = p2 - p0
    except Exception:  # an operation that raises counts as failed; the loop goes on
        ex.update(ok=False, t1=time.time())
        print(f"FAILED {op.name} (pass {pass_no}):\n{traceback.format_exc()}", file=sys.stderr)
    finally:
        if rec.tracing:
            spark.removeTag(tag)
    return ex


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    import workloads as W

    if args.workload not in W.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}")
    spec = W.WORKLOADS[args.workload]
    tracing = bool(args.trace)
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(os.getcwd(), ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    rec = Recorder(tracing)
    spark = None
    try:
        event_dir = _configure_environment(run_dir, cores, tracing)
        entry, spark = _setup(rec.span)
        setup_s = _process_age_s()
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pids = _child_jvm_pids()
        t_setup = time.perf_counter()

        data_dir = os.path.join(CORPUS, spec["corpus"])
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        import parity

        ctx = Context(spark, data_dir, run_dir, parity)
        rng = random.Random(args.seed)
        ops = W.make_ops(ctx, entry, spec, rng)
        t_inputs = time.perf_counter()

        passes: list[list[dict]] = []
        pass_walls: list[float] = []
        cache: list[tuple[int, float]] = []
        rss: list[float] = []

        def one_pass(n: int) -> list[dict]:
            with rec.span("pass", str(n)):
                p0 = time.perf_counter()
                p = [_run_op(op, ctx, rec, n) for op in W.pass_order(ops, rng)]
                pass_walls.append(time.perf_counter() - p0)
            cache.append(_cache_state(spark))
            rss.append(_rss_mb(jvm_pids, "VmRSS"))
            return p

        first_warm = 1 + spec.get("settle_passes", 0)
        while len(passes) < first_warm:
            passes.append(one_pass(len(passes)))
        warm_start = time.perf_counter()
        while (len(passes) - first_warm) * len(ops) < MIN_WARM_SAMPLES or time.perf_counter() - warm_start < args.seconds:
            passes.append(one_pass(len(passes)))
        peak_rss_mb = _rss_mb(jvm_pids, "VmHWM")

        t_checks = time.perf_counter()
        checks = {}
        ctx.start_oracles([op.oracle for op in ops if getattr(op, "oracle", None)], cores)
        for op in ops:
            c0 = time.perf_counter()
            try:
                with rec.span("check", op.name):
                    ok, msg = op.check(ctx)
            except Exception as e:
                ok, msg = False, f"{type(e).__name__}: {e}"
            checks[op.name] = (ok, msg)
            print(f"check {'PASS' if ok else 'FAIL'} {op.name}: {msg} [{time.perf_counter() - c0:.2f} s]")
        print(f"phases: setup {setup_s:.1f} s, inputs {t_inputs - t_setup:.1f} s, "
              f"cold and settle passes {warm_start - t_inputs:.1f} s, warm passes {t_checks - warm_start:.1f} s, "
              f"checks {time.perf_counter() - t_checks:.1f} s")

        execs = [ex for p in passes for ex in p]
        failed_checks = {n for n, (ok, _) in checks.items() if not ok}
        failed = sum(1 for ex in execs if not ex["ok"] or ex["op"] in failed_checks)
        attempted = len(execs)
        warm = passes[first_warm:]
        op_times = [ex["seconds"] for p in warm for ex in p if ex["ok"]]
        cold_pass_s = pass_walls[0]
        pass_s = statistics.median(pass_walls[first_warm:])
        print(f"workload={args.workload} seed={args.seed} corpus={spec['corpus']} cores={cores} "
              f"warm_passes={len(warm)} ops_per_pass={len(ops)} trace={args.trace}")
        print(f"fail_frac {failed / attempted:.6f} ({failed}/{attempted})")
        if first_warm > 1:
            print("settle pass walls: " + " ".join(f"{t:.3f}" for t in pass_walls[1:first_warm]))
        print("warm pass walls: " + " ".join(f"{t:.3f}" for t in pass_walls[first_warm:]))
        tail_pct, op_tail_s = _tail(op_times)
        # not gated: 15-26 warm samples back no true tail percentile
        print(f"op_tail_s {op_tail_s:.6g} s (p{tail_pct:.0f} of {len(op_times)} warm samples, "
              f"{TAIL_BEYOND} beyond it; reported, not gated)")
        for op in ops:
            cold = [ex.get("seconds", float("nan")) for ex in passes[0] if ex["op"] == op.name]
            hot = [ex["seconds"] for p in warm for ex in p if ex["op"] == op.name and ex["ok"]]
            print(f"op {op.name} [{op.module}]: cold {cold[0]:.3f} s, warm median "
                  f"{statistics.median(hot) if hot else float('nan'):.3f} s over {len(hot)}: "
                  + " ".join(f"{t:.3f}" for t in hot))
        for i, ((entries, mb), r) in enumerate(zip(cache, rss)):
            print(f"after pass {i}: cache.entries={entries} cache.mb={mb:.3f} rss_mb={r:.1f}")

        if tracing:
            from layers import layer_metrics, store_stats

            trips = {op.trip for op in ops if isinstance(op, W.ZarrOp)}
            store = store_stats(trips.pop()) if trips else None
            spark.stop()
            spark = None
            metrics = layer_metrics(rec, warm, cache, event_dir, cores, W.MODULES, store)
            metrics["memory.peak_rss_mb"] = (peak_rss_mb, "MB")
            metrics["trace.pass_s"] = (pass_s, "s")
            rec.dump(os.path.join(run_dir, "spans.json"))
            print("span self time: " + ", ".join(f"{k} {v:.3f} s" for k, v in rec.self_times().items()))
            print(f"tracing overhead: trace.pass_s {pass_s:.4f} s here; "
                  "subtract pass_s of an untraced run of the same workload")
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "cold_pass_s": (cold_pass_s, "s"),
                "pass_s": (pass_s, "s"),
                "op_p50_s": (statistics.median(op_times), "s"),
            }
            print(f"peak_rss_mb {peak_rss_mb:.1f} MB (Python process + JVM; reported, not gated)")
        for name, (value, unit) in metrics.items():
            print(f"{name} {value:.6g} {unit}")
        correct = failed == 0
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0 if correct else 1
    finally:
        if spark is not None:
            spark.stop()
        _stop_gateway()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


def _stop_gateway() -> None:
    """Shut the py4j gateway and wait for the JVM to exit (it exits when
    its stdin closes), so the run leaves no process behind."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    gw.shutdown()
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()


if __name__ == "__main__":
    sys.exit(main())
