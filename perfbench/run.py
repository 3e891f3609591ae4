"""brdrq_spark benchmark: one workload per call, closed loop, checked outputs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It generates the workload's inputs from
the seed, starts ``local[<cores>]`` in this process, runs untimed
warm-up jobs, then runs the job back to back (the next starts only after
the previous has finished) for S seconds, checking every output. Between
jobs it times a fixed CPU loop (calib.py); the ``norm_*`` metrics are the
job times scaled by it to a reference machine speed. The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. A traced run
also writes its spans to ``.perfbench-out/``. ``--tiny`` shrinks the
inputs for the smoke test (perfbench/smoke.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sweep_rd_grid", "image_pipeline_resume")
SETUP_REPEATS = 3  # input preparations per run; setup_s takes their median
# untimed passes before the timed loop (the first is the cold one)
WARMUP_PASSES = {"sweep_rd_grid": 2, "image_pipeline_resume": 1}
# timed jobs a run makes at least, whatever --seconds says. The sweep's
# jobs keep speeding up for about five more jobs while the JIT compiles,
# so its median must come from the same positions in every run: with a
# window shorter than this many jobs, every run makes exactly this many,
# and the median leaves out the slow first one
MIN_JOBS = {"sweep_rd_grid": 4, "image_pipeline_resume": 3}


def _proc_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _tree_rss_mb(exclude: set[int]) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in set(_proc_tree(os.getpid())) - exclude:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            pass
    return total / 2**20


class PeakRss:
    """Samples the summed RSS of this process, its JVM and the Python
    workers (not the ``exclude`` pids) every 0.2 s while active; ``peak``
    is the highest sample."""

    def __init__(self, exclude: set[int]):
        self.exclude = exclude
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_mb(self.exclude))
            self._stop.wait(0.2)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_mb(self.exclude))


def driver_memory_mb() -> int:
    """A quarter of the available memory, within [1 GiB, 4 GiB]: the
    package default asks for 24 GiB whatever the machine has."""
    with open("/proc/meminfo") as f:
        info = {ln.split(":")[0]: int(ln.split()[1]) for ln in f}
    return max(1024, min(4096, info["MemAvailable"] // 4096))


def configure_env(work: str) -> dict:
    """Environment for the JVM and the Python workers, set before the
    session starts: workers import the package from this checkout, and
    every scratch file lands under ``work``."""
    os.makedirs(f"{work}/tmp", exist_ok=True)
    env = {
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_memory_mb()}m",
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "TMPDIR": f"{work}/tmp",
        # no hsperfdata files in /tmp, JVM temp files under ``work``
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    }
    os.environ.update(env)
    return env


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        gw.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 60
    while len(_proc_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def run(args) -> dict:
    from brdrq_spark.session import get_spark
    from calib import Calibrator
    from layers import Spans

    name = args.workload
    work = os.path.join(ROOT, ".perfbench-work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = configure_env(work)
    cores = len(os.sched_getaffinity(0))
    print(json.dumps({"workload": name, "seed": args.seed, "cores": cores, **env}),
          file=sys.stderr, flush=True)

    spans = Spans()
    cal = Calibrator(cores)  # forks its workers: before the JVM starts
    try:
        with spans.span("session.start"):
            spark = get_spark(f"perfbench-{name}", cpus=cores, extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": env["SPARK_LOCAL_DIRS"],
            })
        try:
            return _measure(spark, args, work, spans, cal)
        finally:
            cal.close()  # before stop_spark, which waits for every child
            stop_spark(spark)
    finally:
        cal.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass


def _measure(spark, args, work, spans, cal) -> dict:
    import workloads
    from layers import census, traced_job

    name = args.workload
    for _ in range(SETUP_REPEATS):
        with spans.span("inputs.prepare"):
            inp = workloads.prepare(name, args.seed, f"{work}/inputs", args.tiny)
    session_s = spans.durations("session.start")[0]
    prep_s = statistics.median(spans.durations("inputs.prepare"))

    with spans.span("warmup"):
        first = workloads.run_job(spark, name, inp)
    warmup_s = spans.durations("warmup")[0]
    problems = [f"warm-up: {p}" for p in first.problems]
    # the sweep's second untimed pass: its first timed job otherwise runs
    # about a third slower while the JVM compiles the job's code paths
    for _ in range(WARMUP_PASSES[name] - 1):
        with spans.span("settle"):
            problems += [f"warm-up: {p}" for p in workloads.run_job(spark, name, inp).problems]

    outcomes, traced_flags, raised, failed = [], [], 0, 0
    min_jobs = max(MIN_JOBS[name], 1 + args.trace)
    with PeakRss(cal.pids()) as rss:
        t_end = time.perf_counter() + args.seconds
        while time.perf_counter() < t_end or len(outcomes) < min_jobs:
            with spans.span("calibrate"):
                cal.measure()
            # a traced run alternates jobs with and without spans, which
            # gives the spans' own overhead
            traced = bool(args.trace) and len(outcomes) % 2 == 0
            try:
                if traced:
                    with traced_job(spans, name):
                        out = workloads.run_job(spark, name, inp)
                else:
                    out = workloads.run_job(spark, name, inp)
            except Exception:  # a failed job is counted, the loop goes on
                traceback.print_exc()
                raised += 1
                problems.append("job raised")
                if raised > 3:
                    break
                continue
            if out.signature != first.signature:
                out.problems.append(f"signature {out.signature} != {first.signature}")
            failed += bool(out.problems)
            problems += out.problems
            outcomes.append(out)
            traced_flags.append(traced)

    cal.measure()  # the last job has a calibration on both sides
    print(json.dumps({"session_s": spans.durations("session.start"),
                      "prepare_s": spans.durations("inputs.prepare"), "warmup_s": warmup_s,
                      "settle_s": spans.durations("settle"),
                      "job_s": [o.seconds for o in outcomes],
                      "resume_s": [o.resume_s for o in outcomes],
                      "loop_ms": 1000 * cal.loop_s()}), file=sys.stderr)
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    result = {"correct": not problems, "attempted": len(outcomes) + raised,
              "failed": failed + raised}
    # untraced jobs only: a traced run alternates, an untraced one has no others
    plain = [o for o, t in zip(outcomes, traced_flags) if not t]
    if not plain:
        result["metrics"] = {}
        return result
    job_s = statistics.median(o.seconds for o in plain)
    resume = [o.resume_s for o in plain if o.resume_s is not None]
    # sweep_rd_grid has no checkpoint: a restart redoes the whole job
    resume_s = statistics.median(resume) if resume else job_s
    if not args.trace:
        result["metrics"] = {
            "norm_themes_per_s": {"value": inp.n_themes / (job_s * cal.scale()),
                                  "unit": "themes/s"},
            "norm_resume_s": {"value": resume_s * cal.scale(), "unit": "s"},
            "setup_s": {"value": session_s + prep_s, "unit": "s"},
        }
        return result

    layer = {"session.start_s": (session_s, "s"), "session.warmup_s": (warmup_s, "s"),
             "inputs.prepare_s": (prep_s, "s"),
             "memory.peak_rss_mb": (rss.peak, "MB"),
             "wall.themes_per_s": (inp.n_themes / job_s, "themes/s"),
             "wall.resume_s": (resume_s, "s"),
             "calib.loop_ms": (1000 * cal.loop_s(), "ms")}
    with spans.span("census"):
        layer.update(census(spark, name, inp, spans, outcomes))
    on = [o.seconds for o, t in zip(outcomes, traced_flags) if t]
    layer["trace.overhead_pct"] = (100.0 * (statistics.median(on) / job_s - 1.0), "%")
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    out_dir = os.path.join(ROOT, ".perfbench-out")
    os.makedirs(out_dir, exist_ok=True)
    spans.write(os.path.join(out_dir, f"trace-{name}-{args.seed}.json"),
                {"workload": name, "seed": args.seed, "metrics": result["metrics"],
                 "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"]})
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import brdrq_spark  # noqa: F401
    except ModuleNotFoundError as e:
        print(f"perfbench: {e}; run from the root of a brdrq_spark checkout",
              file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0 if result["metrics"] else 1


if __name__ == "__main__":
    sys.exit(main())
