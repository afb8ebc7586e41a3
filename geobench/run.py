"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 geobench/run.py --workload crawl_mixed --seed 1 --seconds 10 --trace 0

Runs from any working directory.  The program under test is the
``geoparser_spark`` package next to this directory; it runs at
``local[<cores>]`` inside this driver process.  Every metric is printed
as ``<name> <value> <unit>``; the last stdout line is the JSON result
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``).  Exits 1 when any output was wrong or any operation
failed, 2 when the program cannot be imported.

Scratch data lives under ``.bench_work/`` and is removed at exit; the
run's artifact (metrics, platform context, spans) is written to
``.bench_out/``.  See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 120.0    # no new timed iteration starts after this
DRIVER_MEM = "3g"


class Bench:
    """State of one run: session, scratch dirs, tracer, error counts."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 work: str):
        from geobench.spans import Tracer

        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = work
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer(trace)
        self.event_dir = os.path.join(work, "eventlog") if trace else None
        self.attempted = self.failed = 0
        self.notes: list[str] = []
        self.spark = None
        self.get_spark_s = 0.0
        self.measure_wall = 0.0
        self._cached: list = []
        self._t0 = time.monotonic()

    def count(self, attempted: int, failed: int, note: str | None = None) -> None:
        self.attempted += attempted
        self.failed += failed
        if note and failed:
            self.notes.append(note)
            print(f"geobench: {note}", file=sys.stderr)

    def past_deadline(self) -> bool:
        return time.monotonic() - self._t0 > DEADLINE_S

    def materialize(self, df):
        """Traced run: force a layer's output at its boundary, so the
        next layer's span does not recompute it."""
        df = df.persist()
        df.count()
        self._cached.append(df)
        return df

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def start_session(self) -> None:
        from geoparser_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # split the multi-file corpus as a large crawl index would be
            # split, so the extract takes the mega-only plan
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(512 * 1024),
        }
        if self.event_dir:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.rolling.enabled": "false",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": "file://" + self.event_dir})
        with self.tracer.span("session.get_spark"):
            t0 = time.perf_counter()
            self.spark = get_spark(app_name=f"geobench-{self.workload}",
                                   master=f"local[{self.cpus}]", extra_conf=conf)
            self.get_spark_s = time.perf_counter() - t0
        self.tracer.bind(self.spark)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.tracer.bind(None)
            self.spark.stop()
            self.spark = None


def shutdown_jvm() -> None:
    """Stop the JVM this process launched and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext

    from geobench.probes import descendants

    gw = SparkContext._gateway
    if gw is None:
        return
    kids = descendants(os.getpid())
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall through to the kill below
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 10
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in kids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file the run writes under ``work`` and let the
    engine's Python workers import the program from any cwd."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM


def run(args, spec: dict, work: str) -> tuple[dict, dict, "Bench"]:
    from geobench.probes import RssSampler, StealSampler, cpu_control
    from geobench.spans import read_event_logs
    from geobench.workloads import WORKLOADS

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    w = WORKLOADS[args.workload](b)
    context = {"cores": b.cpus, "control_start_per_s": cpu_control(ROOT)}
    try:
        w.warm_inputs()
        # one cold set-up per process: the JVM launch is part of it, as it
        # is of every `job.py run`; the median comes from repeated runs
        t0 = time.perf_counter()
        b.start_session()
        w.prepare()
        setup_s = time.perf_counter() - t0
        w.generate()
        first_span = len(b.tracer.spans)
        with RssSampler() as rss, StealSampler() as steal:
            t0 = time.perf_counter()
            e2e = w.measure()
            b.measure_wall = time.perf_counter() - t0
        e2e.update(setup_s=setup_s, peak_rss_mb=rss.peak_mb)
        measured = b.tracer.spans[first_span:]
        if b.tracer.enabled:
            w.probe()
        b.stop_session()
    finally:
        shutdown_jvm()
    context.update(get_spark_s=b.get_spark_s, steal=steal.result,
                   control_end_per_s=cpu_control(ROOT),
                   measure_wall_s=b.measure_wall,
                   batch_walls_s=[it["wall_s"] for it in w.iterations],
                   reads=w.n_reads)
    if b.tracer.enabled:
        groups = read_event_logs(b.event_dir)
        wanted = spec["per_layer"]
        # a layer the workload never calls did no work: report it as zero
        metrics = {m["name"]: 0.0 for m in wanted}
        metrics.update(w.layer_metrics(groups, measured),
                       **{"session.get_spark_s": b.get_spark_s})
        b.tracer.write(artifact_path(args, "spans.jsonl"), groups)
    else:
        metrics, wanted = e2e, spec["end_to_end"]
    out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted}
    return out, context, b


def artifact_path(args, suffix: str) -> str:
    d = os.path.join(ROOT, ".bench_out")
    os.makedirs(d, exist_ok=True)
    return os.path.join(
        d, f"{args.workload}-seed{args.seed}-trace{args.trace}.{suffix}")


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
        import geoparser_spark  # noqa: F401 - the program under test
        import pyspark  # noqa: F401
    except (OSError, ImportError) as e:
        print(f"geobench: cannot load the program under test: {e}", file=sys.stderr)
        return 2
    from geobench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"geobench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    try:
        metrics, context, b = run(args, spec, work)
    except Exception:  # noqa: BLE001 - report, print no result line
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    error_rate = b.failed / max(b.attempted, 1)
    with open(artifact_path(args, "json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "trace": args.trace, "metrics": metrics,
                   "attempted": b.attempted, "failed": b.failed,
                   "notes": b.notes, "platform": context}, f, indent=1)
    for name, m in metrics.items():
        print(f"{name} {m['value']} {m['unit']}")
    print(f"error_rate {error_rate} ratio ({b.failed}/{b.attempted})")
    print(f"platform {json.dumps(context)}")
    print(json.dumps({"correct": b.failed == 0, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0 if b.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
