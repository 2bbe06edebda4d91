"""Outside-in benchmark of the checkpointed extraction job.

    python3 jobbench/run.py --workload job_mixed --seed 1 --seconds 30 --trace 0

It drives the engine's public entry points from one driver process at
``local[<cores>]``: ``sources.read_transcripts`` -> ``pipeline.run_job``
with job.py's defaults (256 buckets, write salt 4), a resume through
``checkpoint``, and ``reassemble.reassemble_conversations`` over
``pipeline.read_output`` into a noop sink.

Workloads (inputs are generated from ``--seed``, see inputs.py):

* ``job_mixed``: dirty mixed input. A full ``run_job`` is part of set-up
  (the warm-up). Times two ``run_job`` calls on fresh outputs, then
  reruns on the warm-up's output (every bucket resumed), then
  reassembly.
* ``resume_read``: plain input. A ``run_job`` that crashes after 128
  committed buckets is part of set-up. Times the resuming ``run_job``,
  then reassembly.

Short operations repeat, and each metric is the median of its repeats:
the JIT keeps warming over the first calls, and single calls of a second
or two swing with the host. The timed phase is a fixed amount of work,
not a time-filled loop; ``--seconds`` is the nominal length of that phase
and sizes nothing.
Every operation is checked untimed afterwards (checks.py); a failed check
counts the operation as failed. With ``--trace 0`` the last line of
stdout is ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics; with ``--trace 1`` the same operations run again
traced (tracing.py) and the metrics are the per-layer ones. Host
calibration probes (a numpy sort and a small Spark job, at the start and
end of the measured phase) are context only: they go to stderr, and with
``--trace 1`` into the per-layer metrics, and never scale a metric.

Each invocation works in a fresh directory under ``.jobbench_runs/`` in
the checkout (Spark local dirs, JVM temp dir, inputs, outputs), removes
it at exit and stops every process it started.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
RUNS_DIR = os.path.join(REPO, ".jobbench_runs")

WORKLOADS = {"job_mixed": "mixed", "resume_read": "plain"}
N_BUCKETS = 256  # job.py --n-buckets default
WRITE_SALT = 4  # job.py --write-salt default
CRASH_AFTER = 128
# repeats in the timed phase; each metric is the median of its repeats.
# job_mixed's reruns are short (no bucket left to write)
JOBS = 2
RERUNS = 7
REASSEMBLIES = 5
DRIVER_MEMORY = "4g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# processes and memory
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of VmHWM of this driver, the JVM and the Python workers."""
    me = os.getpid()
    return sum(vm_hwm_kb(p) for p in [me, *descendants(me)]) / 1024.0


# ---------------------------------------------------------------------------
# session and probes
# ---------------------------------------------------------------------------


def start_session(workdir: str):
    from janet_spark.session import build_session

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = build_session(
        "jobbench",
        master=f"local[{cores()}]",
        extra_conf={
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this driver
    started has exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.1)
    for p in started:
        try:
            os.kill(p, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            continue
    for p in started:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


def numpy_probe() -> float:
    import numpy as np

    data = np.random.default_rng(0).random(1_000_000)
    times = []
    for _ in range(3):
        t = time.perf_counter()
        np.sort(data)
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def jvm_probe(spark) -> float:
    times = []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(0, 4_000_000, numPartitions=cores()).selectExpr("sum(hash(id))").collect()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


# ---------------------------------------------------------------------------
# the benchmark
# ---------------------------------------------------------------------------


def timed(fn):
    t = time.perf_counter()
    result = fn()
    return result, time.perf_counter() - t


class Bench:
    def __init__(self, workload: str, seed: int, trace: bool, workdir: str):
        self.workload = workload
        self.kind = WORKLOADS[workload]
        self.seed = seed
        self.trace = trace
        self.workdir = workdir
        self.spark = None
        self.failures: dict[str, list[str]] = {}
        self.phases: dict[str, float] = {}
        # output dir -> buckets committed to it before the timed operations
        self.prior: dict[str, list[int]] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    # -- engine calls ------------------------------------------------------

    def run_job(self, out: str, **kw) -> dict:
        from janet_spark.pipeline import run_job
        from janet_spark.sources import read_transcripts

        return run_job(
            self.spark,
            read_transcripts(self.spark, self.input.path),
            out,
            n_buckets=N_BUCKETS,
            write_salt=WRITE_SALT,
            **kw,
        )

    def crash(self, out: str) -> list[int]:
        """A run_job that fails after CRASH_AFTER committed buckets; returns
        the buckets it committed, read from its lineage."""
        from checks import read_lineage

        try:
            self.run_job(out, fail_after_n_buckets=CRASH_AFTER)
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise RuntimeError("the crash run finished without the injected failure")
        lineage = read_lineage(out)
        return sorted(int(b) for b in lineage[lineage["status"] == "success"]["part_bucket"])

    def reassemble(self, out: str) -> None:
        from janet_spark.pipeline import read_output
        from janet_spark.reassemble import reassemble_conversations

        reassemble_conversations(read_output(self.spark, out)).write.format("noop").mode(
            "overwrite"
        ).save()

    # -- phases ------------------------------------------------------------

    def setup(self) -> None:
        from inputs import build_input

        self.spark, self.phases["session"] = timed(lambda: start_session(self.workdir))
        self.input, self.phases["input"] = timed(
            lambda: build_input(self.spark, self.workdir, self.seed, self.kind)
        )
        # the warm-up is a full run_job over the input: the first call in a
        # fresh JVM is seconds slower than the next ones, and a small input
        # leaves the extraction path cold
        if self.workload == "job_mixed":
            warm, self.phases["warm_up"] = timed(lambda: self.run_job(self.path("out_warm")))
            self.prior[self.path("out_warm")] = sorted(warm["buckets_committed"])
        else:
            self.crashed, self.phases["crash"] = timed(lambda: self.crash(self.path("out")))
            self.prior[self.path("out")] = self.crashed
            if self.trace:
                for copy in ("out_traced", "out_after"):
                    shutil.copytree(self.path("out"), self.path(copy))
                    self.prior[self.path(copy)] = self.crashed

    def plan(self) -> list[tuple[str, str]]:
        """The timed operations, in order, as (name, output dir). A "job"
        writes a fresh output, a "resume" is run_job on an output written
        before."""
        if self.workload == "job_mixed":
            warm = self.path("out_warm")
            return (
                [("job", self.path(f"out_{i}")) for i in range(JOBS)]
                + [("resume", warm)] * RERUNS
                + [("reassemble", warm)] * REASSEMBLIES
            )
        return [("resume", self.path("out"))] + [("reassemble", self.path("out"))] * REASSEMBLIES

    def traced_plan(self, out: str) -> list[tuple[str, str]]:
        """One operation of each kind, on output ``out``."""
        names = ["job", "resume", "reassemble"] if self.workload == "job_mixed" else ["resume", "reassemble"]
        return [(name, out) for name in names]

    def main_op(self) -> str:
        return "job" if self.workload == "job_mixed" else "resume"

    def ops(self, plan: list[tuple[str, str]], tracer=None) -> list[tuple[str, str, object, float]]:
        """Run the planned operations in order, each timed and, with a
        tracer, inside a span of its name; returns (name, out, result,
        wall seconds) per operation."""
        res = []
        for name, out in plan:
            call = (lambda: self.reassemble(out)) if name == "reassemble" else (lambda: self.run_job(out))
            if tracer is None:
                result, wall = timed(call)
            else:
                with tracer.span(name):
                    result, wall = timed(call)
            res.append((name, out, result, wall))
        return res

    def gate(self, res: list, label: str = "") -> dict[str, object]:
        """Check every operation in ``res`` (untimed); returns the
        committed rows per output dir."""
        import checks

        committed_of, reassembly_fails = {}, {}
        prior = {out: list(b) for out, b in self.prior.items()}
        counts: dict[str, int] = {}
        for name, out, summary, _ in res:
            counts[name] = counts.get(name, 0) + 1
            op = f"{label}{name} #{counts[name]}"
            if out not in committed_of:
                fails, committed_of[out] = checks.check_job(out, self.input, self.sample)
                self.record(f"{label}output {os.path.basename(out)}", fails)
            committed = committed_of[out]
            if name == "reassemble":
                if out not in reassembly_fails:
                    reassembly_fails[out] = checks.check_reassembly(
                        self.spark, out, committed, self.sample
                    )
                self.record(op, reassembly_fails[out])
                continue
            before = prior.get(out, [])
            buckets = set(int(b) for b in committed["part_bucket"].unique())
            expected = self.input.n_turns - int(committed["part_bucket"].isin(before).sum())
            self.record(op, checks.check_resume(summary, before, buckets))
            self.record(op, _turn_count(summary, expected))
            prior[out] = sorted(set(before) | set(summary["buckets_committed"]))
        return committed_of

    def record(self, op: str, fails: list[str]) -> None:
        self.failures.setdefault(op, []).extend(fails)

    def run(self) -> dict:
        import checks

        self.setup()
        setup_s = sum(self.phases.values())
        self.sample = checks.sample_convs(self.input, self.seed)
        probes = {"numpy": [numpy_probe()], "jvm": [jvm_probe(self.spark)]}

        plan = self.plan()
        if self.trace:
            # the untraced baseline of trace.overhead_s
            plan = [op for op in plan if op[0] == self.main_op()][:1]
        res = self.ops(plan)
        rss = peak_rss_mb()
        self.gate(res)
        if self.trace:
            metrics = self.traced(res[0][3])
        else:
            walls = {}
            for name, _, summary, wall in res:
                walls.setdefault(name, []).append(wall)
            main = [(summary, wall) for name, _, summary, wall in res if name == self.main_op()]
            metrics = {
                "setup_s": (setup_s, "s"),
                "turns_per_s": (statistics.median(s["n_turns"] / w for s, w in main), "1/s"),
                "resume_s": (statistics.median(walls["resume"]), "s"),
                "reassemble_s": (statistics.median(walls["reassemble"]), "s"),
                "output_bytes_per_turn": (
                    checks.committed_bytes(res[-1][1]) / self.input.n_turns,
                    "B",
                ),
            }
        probes["numpy"].append(numpy_probe())
        probes["jvm"].append(jvm_probe(self.spark))
        context = {
            "workload": self.workload,
            "seed": self.seed,
            "input_turns": self.input.n_turns,
            "input_digest": self.input.digest,
            "phases_s": self.phases,
            "ops_s": [(name, round(wall, 3)) for name, _, _, wall in res],
            "host_numpy_probe_s": max(probes["numpy"]),
            "host_jvm_probe_s": max(probes["jvm"]),
            "failures": {k: v for k, v in self.failures.items() if v},
        }
        print("jobbench context: " + json.dumps(context), file=sys.stderr)
        if self.trace:
            # JVM heap growth depends on GC timing, so it does not repeat
            # well enough to gate
            metrics["host.peak_rss_mb"] = (rss, "MB")
            metrics["host.numpy_probe_s"] = (max(probes["numpy"]), "s")
            metrics["host.jvm_probe_s"] = (max(probes["jvm"]), "s")
        failed = sum(1 for v in self.failures.values() if v)
        return {
            "correct": failed == 0,
            "attempted": len(self.failures),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def traced(self, untraced_s: float) -> dict:
        """Run the workload's operations again under spans, on a second
        output, and read the per-layer metrics from the spans and the Spark
        REST API."""
        from checks import path_counts
        from inputs import kernel_rows
        from kernels import microbench
        from layers import layer_metrics
        from tracing import SparkRest, Tracer, instrument

        main = self.main_op()
        out = self.path("out_traced")
        tracer = Tracer(self.spark.sparkContext)
        instrument(tracer, self.spark)
        try:
            res = self.ops(self.traced_plan(out), tracer)
        finally:
            tracer.close()
        snap = SparkRest(self.spark.sparkContext).snapshot()
        for sp in tracer.spans:
            print(f"jobbench span: {sp.path} {sp.start:.3f} {sp.end:.3f}", file=sys.stderr)
        committed = self.gate(res, label="traced ")[out]

        metrics = layer_metrics(snap, tracer, main, "resume", "reassemble")
        resume = next(summary for name, _, summary, _ in res if name == "resume")
        metrics["checkpoint.resumed_buckets"] = (len(resume["resumed_skipping_buckets"]), "count")
        # the same operation untraced once more: the JVM keeps warming up
        # between calls, so the baseline is the mean of one call before and
        # one after the traced call
        after = self.ops([(main, self.path("out_after"))])
        self.gate(after, label="after ")
        baseline = (untraced_s + after[0][3]) / 2
        traced_s = next(wall for name, _, _, wall in res if name == main)
        metrics["trace.overhead_s"] = (traced_s - baseline, "s")
        for path, n in path_counts(committed).items():
            metrics[f"extract.rows_{path}"] = (n, "count")
        metrics["extract.ok_ratio"] = (float(committed["ok"].mean()), "ratio")
        for k, v in microbench(kernel_rows(self.spark, self.workdir, self.seed)).items():
            metrics[k] = (v, "1/s" if k.endswith("rows_per_s") else "ratio")
        return metrics


def _turn_count(summary: dict, expected: int) -> list[str]:
    if summary["n_turns"] != expected:
        return [f"run_job reported {summary['n_turns']} turns, expected {expected}"]
    return []


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=30)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "janet_spark", "pipeline.py")):
        print(f"jobbench: no janet_spark package next to {HERE}", file=sys.stderr)
        return 2

    workdir = os.path.join(RUNS_DIR, f"{args.workload}-{args.seed}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(workdir, "tmp"))
    # the Python workers import janet_spark, so they need the checkout on
    # their path and the driver's interpreter
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    sys.path[:0] = [REPO, HERE]

    bench = Bench(args.workload, args.seed, bool(args.trace), workdir)
    try:
        result = bench.run()
    finally:
        if bench.spark is not None:
            stop_session(bench.spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass
    missing = _declared_metrics(bool(args.trace)) ^ set(result["metrics"])
    if missing:
        print(f"jobbench: metrics differ from BENCHMARK.json: {sorted(missing)}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


def _declared_metrics(trace: bool) -> set[str]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        declared = json.load(f)
    return {m["name"] for m in declared["per_layer" if trace else "end_to_end"]}


if __name__ == "__main__":
    sys.exit(main())
