"""spark-kg benchmark: the CLI jobs users run with spark-submit, timed end to
end in one process at ``local[<cores>]``, or split into layers.

    python3 kgbench/run.py --workload pages_to_triples --seed 1 --seconds 20 --trace 0

Run from the repository root. ``--trace 0`` is a closed loop with one
client: the next job starts only after the previous one has committed its
output, and each output is checked against an oracle computed from the
generator. ``--trace 1`` runs traced passes instead and prints per-layer
metrics. The last line of stdout is the result as JSON; the lines before
it carry host markers, input sizes and, when traced, the reconciliation.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")


def _since_process_start() -> float:
    """Seconds since this process started (``/proc/self/stat`` field 22)."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start / os.sysconf("SC_CLK_TCK")


def _env() -> None:
    """Keep every file Spark and its workers write inside the checkout, and
    let executor-side Python import the package."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _session():
    """The session every job of the run shares, ready once a first trivial
    job has run on a Python worker. Returns (spark, master)."""
    from rdf_i2b2_converter_spark.session import get_spark

    master = f"local[{_cores()}]"
    # no hsperfdata file in the system temp dir
    java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    spark = get_spark("kgbench", master=master, extra_conf={"spark.driver.extraJavaOptions": java_opts})
    spark.sparkContext.parallelize([0], 1).map(lambda x: x + 1).collect()
    return spark, master


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM plus this Python driver."""
    from pyspark import SparkContext

    return (_hwm_kb(SparkContext._gateway.proc.pid) + _hwm_kb("self")) / 1024.0


def run_cli(argv: list[str]) -> str:
    """Run one CLI command in this process; return what it printed."""
    from rdf_i2b2_converter_spark.cli import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    if rc != 0:
        raise RuntimeError(f"cli {argv[2]} exited {rc}: {buf.getvalue()[-500:]}")
    return buf.getvalue()


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.outputs: list = []

    def job(self, spark, w, d, meta, out, stdout_or_error) -> None:
        """Check one job's committed output and count it."""
        self.attempted += 1
        problems = []
        if isinstance(stdout_or_error, BaseException):
            problems.append(f"raised {stdout_or_error!r}")
        else:
            try:
                c = w.check(spark, d, meta, out, stdout_or_error)
                problems = c.problems
                self.outputs.append(c)
            except Exception as e:  # a missing or unreadable output
                problems.append(f"check raised {e!r}")
        if problems:
            self.failed += 1
            print(f"FAILED {w.name} job {self.attempted}: {'; '.join(problems)}", file=sys.stderr)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(f"{out}-plan", ignore_errors=True)


def timed_job(w, d, out, master):
    """Run one job; return (seconds, stdout or the exception it raised)."""
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    try:
        result = run_cli(w.argv(d, out, master))
    except Exception as e:
        traceback.print_exc()
        result = e
    return time.perf_counter() - t0, result


def timed(w, spark, master, d, meta, seconds, tally) -> list[float]:
    """Seconds of the first job, then of later jobs until ``seconds`` have
    passed (at least one later job)."""
    times = []
    t0 = time.perf_counter()
    while len(times) < 2 or time.perf_counter() - t0 < seconds:
        out = os.path.join(WORK, "out", f"{w.name}-{len(times)}")
        dt, result = timed_job(w, d, out, master)
        times.append(dt)
        tally.job(spark, w, d, meta, out, result)
    return times


def trace_command(w, spark, master, d, meta, tally):
    """A cold traced pass of ``w``'s command (its first in the session),
    then a warm one. The last span of a pass runs the command as the timed
    mode does, so the warm pass's command is the untraced reference. A pass
    that raises counts as a failed job; its missing spans read 0. Returns
    the cold and warm own shares per layer, the extra metrics and notes."""
    from spans import Tracer, self_metrics
    from workloads import LAYERS

    tr = Tracer(spark, w.name)
    passes = []
    for k in range(2):
        out = os.path.join(WORK, "out", f"{w.name}-trace{k}")
        t0 = time.perf_counter()
        try:
            result = w.trace_pass(spark, tr, d, out, master, run_cli)
        except Exception as e:
            traceback.print_exc()
            result = e
        passes.append((tr.next_pass(), time.perf_counter() - t0))
        tally.job(spark, w, d, meta, out, result)

    (cold, _), (warm, warm_wall) = passes
    first = self_metrics(cold, w.MINUS, w.CLI)
    own = self_metrics(warm, w.MINUS, w.CLI)
    extra: dict[str, tuple[float, str]] = {}
    link = warm.get("operators.mentions.link_mentions")
    if link:
        extra["operators.mentions.link_yield"] = (link.extra.get("link_yield", 0.0), "ratio")
    sink = warm.get("plans.pipeline")
    if sink:
        extra["plans.pipeline.sink_files"] = (sink.extra.get("sink_files", 0), "count")
    # the command's executor time over that of computing its outputs once
    one_pass = sum(warm[k].task_s for k in w.ONE_PASS if k in warm)
    if w.CLI in warm and one_pass > 0:
        extra[f"{w.CLI}.recompute_ratio"] = (warm[w.CLI].task_s / one_pass, "ratio")

    notes = [
        f"input {w.name}: {json.dumps({k: v for k, v in meta.items() if not isinstance(v, (dict, list))})}",
        f"layers {w.name} (warm pass, own seconds / rows out): " + ", ".join(
            f"{k}={own[k]['wall_s']:.2f}/{own[k]['rows_out']:.0f}" for k in LAYERS if k in own),
        f"first-run extra {w.name}: " + ", ".join(
            f"{k}={first[k]['wall_s'] - own[k]['wall_s']:+.2f}" for k in LAYERS
            if k in own and k in first),
        f"stage metrics {'from the status store' if tr.stage_metrics else 'missing: wall time only'}",
    ]
    if w.CLI not in warm:
        notes.append(f"warm traced pass of {w.name} did not finish: no reconciliation")
        return first, own, extra, notes
    command = warm[w.CLI].wall_s
    layers_only = command - own[w.CLI]["wall_s"]
    dominant = max(own, key=lambda k: own[k]["wall_s"])
    notes += [
        f"dominant layer {w.name}: {dominant} ({own[dominant]['wall_s']:.2f} s of {command:.2f} s)",
        f"reconcile {w.name}: layer self times of one pass {layers_only:.2f} s = "
        f"{layers_only / command:.3f} of the untraced command's run_s {command:.2f} s; "
        f"{w.CLI} beyond one pass {own[w.CLI]['wall_s']:.2f} s",
        f"tracing overhead {w.name}: warm traced pass {warm_wall:.2f} s = "
        f"{warm_wall / command:.2f}x one untraced command ({warm_wall - command:+.2f} s)",
    ]
    return first, own, extra, notes


def traced(w, spark, master, d, meta, seed, tally) -> tuple[dict, list[str]]:
    """Per-layer metrics of ``w``'s command and of the commands it also
    traces, each on its own seeded input. A layer no traced command runs
    reads 0."""
    import gen
    from spans import QUANTITIES
    from workloads import LAYERS

    cores = _cores()
    first, own, notes = {}, {}, []
    metrics: dict[str, tuple[float, str]] = {
        "operators.mentions.link_yield": (0.0, "ratio"),
        "plans.pipeline.sink_files": (0, "count"),
        "cli.recompute_ratio": (0.0, "ratio"),
        "cli.data.recompute_ratio": (0.0, "ratio"),
    }
    for wl in (w, *w.ALSO_TRACED):
        if wl is not w:
            d, meta = gen.cached(WORK, wl.name, seed, wl.size)
        f, o, extra, n = trace_command(wl, spark, master, d, meta, tally)
        first.update(f)
        own.update(o)
        metrics.update(extra)
        notes += n
    zero = dict.fromkeys(QUANTITIES, 0.0)
    for layer in LAYERS:
        o = own.get(layer, zero)
        self_s = o["wall_s"]
        metrics[f"{layer}.self_s"] = (self_s, "s")
        metrics[f"{layer}.task_s"] = (o["task_s"], "s")
        metrics[f"{layer}.util"] = (o["task_s"] / (self_s * cores) if self_s > 0 else 0.0, "ratio")
        metrics[f"{layer}.shuffle_bytes"] = (o["shuffle_bytes"], "B")
        metrics[f"{layer}.spill_bytes"] = (o["spill_bytes"], "B")
        metrics[f"{layer}.jobs"] = (o["jobs"], "count")
        metrics[f"{layer}.first_extra_s"] = (
            first[layer]["wall_s"] - self_s if layer in first and layer in own else 0.0, "s")
    return metrics, notes


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=30)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "rdf_i2b2_converter_spark")):
        print(f"no rdf_i2b2_converter_spark package under {ROOT}", file=sys.stderr)
        return 2
    _env()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    load_start = os.getloadavg()[0]

    spark, master = _session()
    setup_s = _since_process_start()

    import gen
    import pyspark

    t0 = time.perf_counter()
    d, meta = gen.cached(WORK, w.name, args.seed, w.size)
    gen_s = time.perf_counter() - t0

    tally = Tally()
    if args.trace:
        metrics, notes = traced(w, spark, master, d, meta, args.seed, tally)
    else:
        samples = timed(w, spark, master, d, meta, args.seconds, tally)
        run_s = statistics.median(samples[1:])
        first = tally.outputs[0] if tally.outputs else None
        metrics = {
            "setup_s": (setup_s, "s"),
            "first_run_s": (samples[0], "s"),
            "run_s": (run_s, "s"),
            "rows_per_s": (meta["rows"] / run_s, "1/s"),
            "output_bytes_per_row": (first.bytes / max(1, first.rows) if first else 0.0, "B"),
        }
        notes = [
            f"samples {w.name}: setup {setup_s:.2f} s; jobs "
            f"{', '.join(f'{s:.2f}' for s in samples)} s "
            f"(run_s = median of {len(samples) - 1} later jobs)",
            f"fail_ratio {w.name}: {tally.failed}/{tally.attempted}",
            f"peak_rss_mb {w.name}: {_peak_rss_mb():.1f} (driver JVM + Python driver)",
        ]
    _stop(spark)
    host = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "nproc": _cores(), "master": master,
        "load1_start": load_start, "load1_end": os.getloadavg()[0],
        "spark": pyspark.__version__, "python": sys.version.split()[0],
        "input": {k: v for k, v in meta.items() if not isinstance(v, (dict, list))},
        "input_size": w.size, "input_generated_s": round(gen_s, 3),
    }
    for line in notes:
        print(line)
    print(json.dumps({"host": host}))
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{w.name}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({"host": host, "notes": notes, **result}, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
