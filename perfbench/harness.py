"""Runs one workload and turns its timings, progress reports and event log
into the end-to-end and per-layer metrics named in ``BENCHMARK.json``."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import time
import traceback
from contextlib import contextmanager, nullcontext
from pathlib import Path


import workloads as W
from trace import EventLog, Tracer

SPEC = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def declared(kind: str) -> dict[str, str]:
    """Metric name -> unit of the ``kind`` ("end_to_end" or "per_layer")
    metrics BENCHMARK.json declares."""
    return {m["name"]: m["unit"] for m in json.loads(SPEC.read_text())[kind]}


OPERATOR_OPS = {
    "op_incremental_merge": "operators.merge_s",
    "op_compact_small_files": "operators.compact_s",
}


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


class OpTimer:
    """Build and exec time of one operation run; each phase is a span
    (and a Spark job group) when tracing."""

    def __init__(self, tracer: Tracer | None, name: str, layer: str):
        self.tracer = tracer
        self.name = name
        self.layer = layer
        self.build_s = 0.0
        self.exec_s = 0.0
        self.bytes_written = 0
        self.files_written = 0

    def _span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    @contextmanager
    def phase(self, kind: str):
        layer = self.layer if self.layer == "operators" else ("plans" if kind == "build" else "engine")
        t0 = time.perf_counter()
        try:
            with self._span(f"{self.name}|{kind}", layer):
                yield
        finally:
            dt = time.perf_counter() - t0
            if kind == "build":
                self.build_s += dt
            else:
                self.exec_s += dt

    @property
    def total(self) -> float:
        return self.build_s + self.exec_s


class Result:
    def __init__(self, workload: str):
        self.workload = workload
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.end_to_end: dict[str, tuple[float, str, int]] = {}
        self.per_layer: dict[str, tuple[float, str, int]] = {}
        self.notes: list[str] = []

    def fail(self, where: str, exc: BaseException) -> None:
        self.failed += 1
        self.errors.append(f"{where}: {type(exc).__name__}: {str(exc)[:300]}")

    def record(self) -> dict:
        return {
            "attempted": self.attempted,
            "failed": self.failed,
            "errors": self.errors,
            "end_to_end": {k: v[0] for k, v in self.end_to_end.items()},
            "per_layer": {k: v[0] for k, v in self.per_layer.items()},
            "notes": self.notes,
        }

    def report_lines(self) -> list[str]:
        lines = []
        for title, ms in (("end-to-end", self.end_to_end), ("per-layer", self.per_layer)):
            if ms:
                lines.append(f"# {title}")
                lines += [f"{k:40s} {v:14.6g} {u:10s} n={n}" for k, (v, u, n) in ms.items()]
        rate = self.failed / self.attempted if self.attempted else 1.0
        lines.append(f"{'error_rate':40s} {rate:14.6g} {'ratio':10s} n={self.attempted}")
        lines += [f"# {n}" for n in self.notes]
        return lines


class Pass:
    """One pass over a workload: its batch operations, then its stream
    consumers. ``wall`` excludes the output checks; ``cpu_s`` and
    ``steal_s``, the machine's busy and stolen CPU seconds, include them."""

    def __init__(self, label: str):
        self.label = label
        self.wall = 0.0
        self.cpu_s = 0.0
        self.steal_s = 0.0
        self.ops: dict[str, OpTimer] = {}
        self.streams: dict[str, dict] = {}

    @property
    def batch_s(self) -> float:
        return sum(t.total for t in self.ops.values())

    def op_times(self) -> dict[str, float]:
        out = {k: t.total for k, t in self.ops.items()}
        out.update({c: r["wall"] for c, r in self.streams.items()})
        return out


class Run:
    """State of one benchmark run."""

    def __init__(self, workload, seed, seconds, trace, work: Path, run_dir: Path):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.run_dir = run_dir
        self.res = Result(workload)
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.tracer: Tracer | None = None
        self.ctx: W.Ctx | None = None
        self.ops = W.batch_ops(workload)
        self.stream = workload == "curation_stream"

    # -- session -------------------------------------------------------------

    def start(self, data_dir: str) -> None:
        from cupertino_nvr_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        self.start_s = time.perf_counter() - t0
        self.jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        if self.trace:
            self.tracer = Tracer(spark.sparkContext)
        self.ctx = W.Ctx(spark, data_dir, str(self.run_dir / "scratch"), self.seed)

    def warm_up(self) -> float:
        """What a fresh session does before its first operation: read the
        workload's table footers and start a Python worker. The first pass
        still pays the JIT compilation of every plan it runs, as a batch
        job in a fresh JVM does."""
        from cupertino_nvr_spark.sources.tables import load_table

        spark = self.ctx.spark
        t0 = time.perf_counter()
        for t in W.TABLES[self.workload]:
            load_table(spark, t, self.ctx.data_dir).limit(1).collect()
        probe = spark.range(8).selectExpr("id", "cast(id as string) s")
        probe.mapInPandas(lambda it: it, probe.schema).collect()
        return time.perf_counter() - t0

    def restart(self, cpus: int) -> None:
        """Stop the session and start a warmed-up one on ``cpus`` cores in
        the same JVM, so the JIT state carries over, with the event log off."""
        from cupertino_nvr_spark.session import get_spark

        jvm = self.ctx.spark.sparkContext._jvm
        self.ctx.spark.stop()
        jvm.java.lang.System.setProperty("spark.eventLog.enabled", "false")
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        self.ctx.spark = get_spark("perfbench")
        self.warm_up()

    def peak_rss_mb(self) -> float:
        return _vm_hwm(os.getpid()) + _vm_hwm(self.jvm_pid)

    def shutdown(self) -> None:
        """Stop the session, then the JVM (it exits when its stdin closes)
        and wait for it, so the run leaves no process behind."""
        from pyspark import SparkContext

        if self.ctx is not None:
            self.ctx.spark.stop()
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            return
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # -- one pass --------------------------------------------------------------

    def _attempt(self, where: str, fn):
        """Run ``fn``; an exception is a failed operation, counted and kept."""
        self.res.attempted += 1
        try:
            return fn(), True
        except Exception as exc:  # a failure is counted, the pass goes on
            self.res.fail(where, exc)
            traceback.print_exc()
            return None, False

    def _check(self, where: str, fn) -> float:
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as exc:  # a wrong output is a failed operation
            self.res.fail(f"{where} check", exc)
        return time.perf_counter() - t0

    def one_pass(self, label: str, traced: bool = True, stream: bool | None = None) -> Pass:
        ops = self.ops
        stream = self.stream if stream is None else stream
        tracer = self.tracer if traced else None
        ctx = self.ctx
        p = Pass(label)
        checking = 0.0
        cpu0 = _vm_cpu()
        t0 = time.perf_counter()
        for op in ops:
            layer = "operators" if isinstance(op, W.MaintainOp) else "plans"
            timer = OpTimer(tracer, f"{label}|{op.name}", layer)
            ctx.timer = timer
            out, ok = self._attempt(f"{label} {op.name}", lambda: op.run(ctx))
            if not ok:
                continue
            p.ops[op.name] = timer
            timer.result_rows = op.result_rows(out)
            with tracer.span(f"check|{label}|{op.name}", "check") if tracer else nullcontext():
                checking += self._check(f"{label} {op.name}", lambda: op.check(ctx, out))
        if stream:
            with tracer.span(f"{label}|overlay", "streaming") if tracer else nullcontext():
                run, ok = self._attempt(f"{label} overlay", lambda: W.run_overlay(ctx, label))
            if ok:
                p.streams["overlay"] = run
                checking += self._check(f"{label} overlay", lambda: W.check_overlay(run, self.seed))
        p.wall = time.perf_counter() - t0 - checking
        p.cpu_s, p.steal_s = (b - a for a, b in zip(cpu0, _vm_cpu()))
        return p

    # -- the run ---------------------------------------------------------------

    def execute(self) -> Result:
        try:
            self.measure()
        finally:
            self.shutdown()
            if self.tracer is not None:
                self.tracer.write(str(self.run_dir / "spans.json"))
            shutil.rmtree(self.run_dir / "scratch", ignore_errors=True)
            shutil.rmtree(self.run_dir / "tmp", ignore_errors=True)
            if not self.trace:
                shutil.rmtree(self.run_dir, ignore_errors=True)
        return self.res

    def measure(self) -> None:
        data_dir = W.prepare_batch(str(self.work), self.seed)
        for op in self.ops:
            if isinstance(op, W.QueryOp):
                op.expected(data_dir)
        self.start(data_dir)
        warm_s = self.warm_up()
        # JIT warm-up before timing: checked, counted, not measured
        self.warm = [
            self.one_pass(f"w{i + 1}", traced=False, stream=False)
            for i in range(W.WARMUP_PASSES)
        ]
        passes: list[Pass] = []
        t_end = time.perf_counter() + self.seconds
        while len(passes) < W.MIN_PASSES[self.workload] or time.perf_counter() < t_end:
            passes.append(self.one_pass(f"p{len(passes) + 1}"))
        rss = self.peak_rss_mb()

        pass_s = [p.wall for p in passes]
        per_op: dict[str, list[float]] = {}
        for p in passes:
            for k, v in p.op_times().items():
                per_op.setdefault(k, []).append(v)
        stream = {
            c: _progress_stats([p.streams[c] for p in passes if c in p.streams])
            for c in (["overlay"] if self.stream else [])
        }
        e2e = self.res.end_to_end
        e2e["setup_s"] = (self.start_s + warm_s, "s", 1)
        # means, not medians: measured passes still trend faster as the JIT
        # finishes, so the median of three is one mid-trend pass; on ten
        # analytics runs its spread (IQR / median) was 0.10, the mean's 0.05
        e2e["pass_s"] = (_mean(pass_s), "s", len(pass_s))
        # so that a gain on a short operation shows beside a long one
        e2e["query_geomean_s"] = (
            _geomean([_mean(v) for v in per_op.values()]), "s", len(per_op)
        )
        _check_declared(e2e, "end_to_end")
        self.res.notes.append(
            "passes (wall s / busy CPU s / stolen CPU s): "
            + ", ".join(f"{p.label} {p.wall:.3f}/{p.cpu_s:.1f}/{p.steal_s:.1f}" for p in self.warm + passes)
            + f"; peak RSS of driver and JVM {rss:.0f} MB"
        )
        self.res.notes.append(
            "operation means (s): " + ", ".join(f"{k} {_mean(v):.3f}" for k, v in per_op.items())
        )
        if stream:
            ov = stream["overlay"]
            self.res.notes.append(
                f"overlay batch latency {ov['p50']:.1f} ms (median of n={ov['n']} measured batches), "
                f"{ov['rows'] / ov['busy_s'] if ov['busy_s'] else 0.0:.1f} input rows/s"
            )
        if self.trace:
            self.layers(passes, stream, warm_s)
            self.res.per_layer["engine.peak_rss_mb"] = (rss, "MB", 1)

    # -- per-layer metrics (traced run) ------------------------------------------

    def layers(self, passes: list[Pass], stream: dict, warm_s: float) -> None:
        """Per-layer metrics from the measured passes' timers, progress
        reports and event log, plus the traced run's extra measurements."""
        from cupertino_nvr_spark.sources.tables import load_table

        spark = self.ctx.spark
        # every traced run prints all per-layer metrics, 0 where the workload
        # does not reach the layer
        pl = self.res.per_layer = {k: (0.0, u, 0) for k, u in declared("per_layer").items()}
        n = len(passes)
        labels = [p.label for p in passes]
        pl["session.start_s"] = (self.start_s, "s", 1)
        pl["session.warm_s"] = (warm_s, "s", 1)
        pl["plans.build_s"] = (_mean([sum(t.build_s for t in p.ops.values()) for p in passes]), "s", n)
        pl["plans.exec_s"] = (_mean([sum(t.exec_s for t in p.ops.values()) for p in passes]), "s", n)
        for op in self.ops:
            ts = [p.ops[op.name] for p in passes if op.name in p.ops]
            pl[f"q.{op.name}.build_s"] = (_mean([t.build_s for t in ts]), "s", len(ts))
            pl[f"q.{op.name}.exec_s"] = (_mean([t.exec_s for t in ts]), "s", len(ts))
            if op.name in OPERATOR_OPS:
                pl[OPERATOR_OPS[op.name]] = (_mean([t.total for t in ts]), "s", len(ts))
        maint = [o.name for o in self.ops if isinstance(o, W.MaintainOp)]
        if maint:
            written = [sum(p.ops[o].bytes_written for o in maint if o in p.ops) for p in passes]
            files = [sum(p.ops[o].files_written for o in maint if o in p.ops) for p in passes]
            ev_bytes = _dir_bytes(os.path.join(self.ctx.data_dir, "events.parquet"))
            pl["operators.bytes_written"] = (_mean(written), "bytes", n)
            pl["operators.files_written"] = (_mean(files), "count", n)
            pl["operators.write_amp"] = (_mean(written) / ev_bytes, "ratio", n)
        for c, s in stream.items():
            k = s["n"]
            pl[f"stream.{c}.events_per_s"] = (s["rows"] / s["busy_s"] if s["busy_s"] else 0.0, "1/s", k)
            pl[f"stream.{c}.batch_ms"] = (s["p50"], "ms", k)
            pl[f"stream.{c}.add_batch_ms"] = (s["add_batch"], "ms", k)
            pl[f"stream.{c}.planning_ms"] = (s["planning"], "ms", k)
            pl[f"stream.{c}.commit_ms"] = (s["commit"], "ms", k)
            pl[f"stream.{c}.state_rows"] = (s["state_rows"], "rows", 1)
            pl[f"stream.{c}.state_bytes"] = (s["state_bytes"], "bytes", 1)

        # forced scans of each input table
        scan_s = 0.0
        for t in W.TABLES[self.workload]:
            t0 = time.perf_counter()
            with self.tracer.span(f"src|{t}", "sources"):
                load_table(spark, t, self.ctx.data_dir).write.format("noop").mode("overwrite").save()
            scan_s += time.perf_counter() - t0
        pl["sources.scan_s"] = (scan_s, "s", len(W.TABLES[self.workload]))
        if self.stream:
            self.static_stream_stages(pl)

        # the batch operations, warm: traced, in the third pass of this
        # session (warm-up included); untraced in a new, warmed-up session
        # of this JVM without the event log; untraced at one core, likewise.
        if self.ops:
            last = passes[-1]
            for i in range(len(self.warm) + len(passes), 3):
                last = self.one_pass(f"t{i}", stream=False)
            traced = last.batch_s
            self.restart(self.cpus)
            full = self.one_pass("n", traced=False, stream=False).batch_s
            self.restart(1)
            one = self.one_pass("c1", traced=False, stream=False).batch_s
            pl["trace.overhead"] = (traced / full, "ratio", 1)
            pl["engine.parallel_speedup"] = (one / full, "ratio", 1)
            self.res.notes.append(
                f"batch operations warm: {traced:.3f} s traced, {full:.3f} s untraced "
                f"at {self.cpus} cores, {one:.3f} s on {self.ctx.spark.sparkContext.master}"
            )

        log = EventLog(str(self.run_dir / "eventlog"))
        src_groups = [f"src|{t}" for t in W.TABLES[self.workload]]
        files, nbytes = log.scan(src_groups)
        pl["sources.bytes_read"] = (nbytes, "bytes", 1)
        pl["sources.files_read"] = (files, "count", 1)
        groups = [f"{lb}|{o.name}|{k}" for lb in labels for o in self.ops for k in ("build", "exec")]
        # a stream's own jobs carry its run id; the jobs the calling thread
        # starts (reading the sink) carry the span's name
        groups += [f"{p.label}|{c}" for p in passes for c in p.streams]
        groups += [r["run_id"] for p in passes for r in p.streams.values()]
        eng = log.engine(groups)
        for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            unit = "s" if k.endswith("_s") else ("bytes" if k.endswith("bytes") else "count")
            pl[f"engine.{k}"] = (eng[k] / n, unit, n)
        pl["engine.task_skew"] = (eng["task_skew"], "ratio", n)
        wall = sum(p.wall for p in passes)
        pl["engine.busy_frac"] = (eng["run_s"] / (self.cpus * wall), "ratio", n)
        py_rows, py_bytes = log.python_io(groups)
        pl["llm.python_rows"] = (py_rows / n, "count", n)
        pl["llm.python_bytes"] = (py_bytes / n, "bytes", n)
        cands = [
            log.max_join_rows([f"{p.label}|{q}|build", f"{p.label}|{q}|exec"]) / p.ops[q].result_rows
            for p in passes
            for q in W.CANDIDATE_QUERIES
            if q in p.ops and p.ops[q].result_rows
        ]
        if cands:
            pl["llm.candidates_per_result"] = (_median(cands), "ratio", len(cands))
        _check_declared(pl, "per_layer")

    def static_stream_stages(self, pl) -> None:
        """The inference and codec stages, each timed on one static batch of
        the stream's frames."""
        from cupertino_nvr_spark.streaming.inference import with_synthetic_detections

        spark = self.ctx.spark
        frames = W.frames_from_rate(W.rate_batch(spark, self.seed, W.STREAM_BATCHES), self.seed)
        t0 = time.perf_counter()
        with self.tracer.span("static|inference", "streaming"):
            detected = with_synthetic_detections(frames).localCheckpoint(eager=True)
        pl["stream.inference_s"] = (time.perf_counter() - t0, "s", 1)
        t0 = time.perf_counter()
        with self.tracer.span("static|codec", "streaming"):
            W.wire_roundtrip(W.event_rows(detected)).write.format("noop").mode("overwrite").save()
        pl["stream.codec_s"] = (time.perf_counter() - t0, "s", 1)


def _progress_stats(runs: list[dict]) -> dict:
    """Rate, latency and state over every batch after the first
    ``SKIP_BATCHES`` of each run of a stream query."""
    ps = [p for r in runs for p in r["progress"][W.SKIP_BATCHES:]]
    trig = [p["durationMs"].get("triggerExecution", 0) for p in ps]
    last = ps[-1].get("stateOperators", []) if ps else []
    return {
        "n": len(ps),
        "rows": sum(p["numInputRows"] for p in ps),
        "busy_s": sum(trig) / 1000.0,
        "p50": _median(trig),
        "add_batch": _median([p["durationMs"].get("addBatch", 0) for p in ps]),
        "planning": _median([p["durationMs"].get("queryPlanning", 0) for p in ps]),
        "commit": _median(
            [p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0) for p in ps]
        ),
        "state_rows": float(sum(s.get("numRowsTotal", 0) for s in last)),
        "state_bytes": float(sum(s.get("memoryUsedBytes", 0) for s in last)),
    }


def _check_declared(metrics: dict, kind: str) -> None:
    """Fail unless ``metrics`` are exactly the declared ones, in their units."""
    got = {k: u for k, (_v, u, _n) in metrics.items()}
    spec = declared(kind)
    if got != spec:
        diff = sorted(set(got.items()) ^ set(spec.items()))
        raise ValueError(f"{kind} metrics differ from BENCHMARK.json: {diff}")


def _vm_cpu() -> tuple[float, float]:
    """Busy and stolen CPU seconds of this machine since boot, from
    /proc/stat: busy is user, nice, system, irq and softirq time; stolen is
    time a virtual CPU wanted to run while the hypervisor ran something else."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return (t[0] + t[1] + t[2] + t[5] + t[6]) / hz, t[7] / hz


def _vm_hwm(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def run(workload, seed, seconds, trace, work: Path, run_dir: Path) -> Result:
    return Run(workload, seed, seconds, trace, work, run_dir).execute()
