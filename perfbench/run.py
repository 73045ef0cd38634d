"""KG-construction benchmark: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload crawl_build --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout (``re_shacl_spark/`` next to
``perfbench/``).  One Python process starts one Spark session on
``local[nproc]`` and runs:

  set-up   session start and seeded input generation (written to parquet;
           for crawl_increment also the closed base and its report);
           ``setup_s`` is their sum
  passes   timed passes of the workload on that fresh session, until
           ``--seconds`` have passed (at least one): the cost of a batch job
           as submitted, cold JVM included.  A pass is mostly per-job fixed
           cost rather than data (~90 short Spark jobs) and takes 25-45 s on
           a 4-core machine, so a usual ``--seconds`` gives one pass.  There
           is no warm-up pass: it would take a run from ~55 s to 75-95 s, past
           what the whole benchmark may take, and it did not steady the
           figures.  The JVM compiles with C1 only (see ``_session``).

Every pass's outputs are checked against expected row counts and a content
hash (see workloads.py).  The last stdout line is one JSON object:

  --trace 0  end-to-end metrics, measured with tracing off; per-pass
             figures are medians over the timed passes:
             cpu_s        CPU seconds of a pass, summed over the process
                          tree: this process, the JVM and the Python UDF
                          workers (/proc)
             peak_rss_mb  peak resident memory of that tree during the
                          timed passes (proc.tree_rss_mb: pages the forked
                          UDF workers share are counted once; the JVM heap
                          is fixed and touched up front)
             setup_s      set-up time as above
             output_ok    share of passes whose outputs were right
             A pass's wall time is not among them: on a shared 4-vCPU
             machine it follows the load other tenants put on the CPUs
             (a crawl_increment pass: 23 s at 1 % stolen CPU time, 32 s at
             11 %), and ten-run spreads of 21-32 % were seen, past the 25 %
             a regression bound may be.  It is in the run-context line and,
             per layer, in the traced run (``iteration.wall_s``).
  --trace 1  per-layer metrics (trace.py) of the first pass, traced.  Two
             more passes follow on the warm JVM, traced then untraced;
             ``trace.overhead_s`` is their difference (0 when they are
             skipped to keep a slow run short).  Spark's event log is on in
             this mode only.

The line before it records the run context (nproc, load average, a
single-core speed probe, the share of CPU time the hypervisor stole from
the machine during the pass), so a slow draw of a shared machine can be
told apart from a slower program.  Scratch data, the event log and the span
file live under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("crawl_build", "crawl_increment")
DRIVER_MEMORY = "2g"
# a traced run skips its overhead passes rather than run past this
TRACED_RUN_S = 150


def _arith_probe_s() -> float:
    t0 = time.perf_counter()
    s = 0
    for i in range(300_000):
        s += (i * i) % 97
    return time.perf_counter() - t0


def run_context() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": os.getloadavg()[0],
        "single_core_probe_s": min(_arith_probe_s() for _ in range(3)),
    }


def _session(work: str, cores: int, trace: bool):
    from re_shacl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed heap size, touched at start-up: a growing heap makes peak
        # RSS vary ±15 % between identical runs, and an untouched one grows
        # its RSS with the collector's timing.  C1 compilation only: a pass
        # is ~90 short Spark jobs on a fresh JVM, and with C2 the compiler
        # threads burned about two thirds of the process CPU and competed
        # with the tasks for the cores.
        # On a 4-core VM, ten-run sets an hour apart gave a wall_s spread
        # (IQR / median; crawl_build, crawl_increment) of 12 % and 25 % with
        # C2 against 9 % and 5 % with C1 only, and C1 cut cpu_s by ~40 %.
        # C1 code overflows the default 48 MB code cache, which would switch
        # the compiler off.
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for every process
    this run started."""
    from pyspark import SparkContext

    from perfbench.proc import tree_pids

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def measure(args, work: str) -> tuple[dict, dict]:
    from perfbench import trace as tr
    from perfbench.proc import RssSampler, cpu_steal_ticks, tree_cpu_s
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    pid = os.getpid()
    tracer = tr.Tracer()
    if args.trace:
        tracer.install()
    phases: dict[str, float] = {}
    t = start = time.perf_counter()
    tracer.active = bool(args.trace)
    with tracer.span("session"):
        spark = _session(work, cores, bool(args.trace))
    tracer.active = False
    tracer.sc = spark.sparkContext
    spark.sparkContext.setLogLevel("ERROR")
    phases["session_s"], t = time.perf_counter() - t, time.perf_counter()
    wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
    wl.prepare()
    phases["inputs_s"] = time.perf_counter() - t

    rss = RssSampler(pid)
    errors: list[str] = []
    n = {"ok": 0, "failed": 0, "attempted": 0}

    def run_pass(i: int, root: str, traced: bool) -> tuple[float, float] | None:
        """One checked pass: its (wall, CPU) seconds, or None when it raised."""
        n["attempted"] += 1
        tracer.active = traced
        rss.active.set()
        c0, t0 = tree_cpu_s(pid), time.perf_counter()
        try:
            with tracer.span(root):
                out = wl.iterate(i)
        except Exception:  # a failed pass is counted, not fatal
            n["failed"] += 1
            errors.append(f"pass {i}: {traceback.format_exc()}")
            return None
        finally:
            tracer.active = False
            rss.active.clear()
        wall, cpu = time.perf_counter() - t0, tree_cpu_s(pid) - c0
        tracer.run_deferred(keep=root == "iteration")
        bad = wl.check(out)
        wl.cleanup(i)
        if bad:
            errors.append(f"pass {i}: {bad}")
        n["ok"] += not bad
        return wall, cpu

    walls: dict[str, float] = {}
    timed: list[tuple[float, float]] = []
    setup_s = sum(phases.values())
    with rss:
        s0, t = cpu_steal_ticks(), time.perf_counter()
        if not args.trace:
            i = 1
            while i == 1 or time.perf_counter() - t < args.seconds:
                res = run_pass(i, "iteration", False)
                if res is not None:
                    timed.append(res)
                i += 1
        else:
            # (root span, traced): the first pass is the measured one; a
            # traced and an untraced pass on the now warm JVM follow, whose
            # difference is the tracing overhead.  The JVM is still warming,
            # so the traced one goes first: the drift inflates the overhead
            # rather than hiding it.  On a slow draw the pair is skipped
            # (overhead reads 0) to keep the run short.
            plan = [("iteration", True), ("overhead", True), ("untraced", False)]
            for i, (root, traced) in enumerate(plan, start=1):
                if root == "overhead" and (
                    time.perf_counter() - start + 2 * walls.get("iteration", 0.0) > TRACED_RUN_S
                ):
                    print("perfbench: no time left for the overhead passes", file=sys.stderr)
                    break
                res = run_pass(i, root, traced)
                if res is not None:
                    walls[root] = res[0]
        s1 = cpu_steal_ticks()
        steal_share = (s1[0] - s0[0]) / max(s1[1] - s0[1], 1)

    _stop(spark)
    tracer.uninstall()
    for e in errors:
        print(f"perfbench: {e}", file=sys.stderr)

    attempted, failed = n["attempted"], n["failed"]
    summary = {"correct": failed == 0 and n["ok"] == attempted, "attempted": attempted, "failed": failed}
    if not args.trace:
        metrics = {
            "cpu_s": (statistics.median(c for _, c in timed) if timed else float("nan"), "s"),
            "peak_rss_mb": (rss.peak_mb, "MB"),
            "setup_s": (setup_s, "s"),
            "output_ok": (n["ok"] / attempted, "ratio"),
        }
    else:
        overhead = walls.get("overhead", 0.0) - walls.get("untraced", 0.0)
        stats = tr.read_event_log(os.path.join(work, "events"))
        values = tr.per_layer_metrics(tracer, stats, cores, overhead, failed / attempted)
        units = tr.per_layer_units()
        metrics = {k: (v, units[k]) for k, v in values.items()}
        tracer.write_spans(os.path.join(work, "spans.jsonl"))
    summary["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input_rows": wl.input_rows, "pass_walls_s": walls or [w for w, _ in timed],
        "errors": len(errors), "steal_share": steal_share, **phases,
    }
    return summary, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "re_shacl_spark", "__init__.py")):
        print(f"perfbench: no re_shacl_spark package under {ROOT}", file=sys.stderr)
        return 2
    # UDF workers are forked by the JVM: they find the package via PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)

    context = run_context()
    runs = os.path.join(ROOT, ".perfbench")
    work = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every scratch file inside the checkout; SPARK_LOCAL_DIRS would
    # override spark.local.dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    try:
        summary, detail = measure(args, work)
    finally:
        # keep the span file; drop the Spark data
        for name in os.listdir(work):
            if name != "spans.jsonl":
                path = os.path.join(work, name)
                shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
        if not os.listdir(work):
            os.rmdir(work)
    context["loadavg_1m_end"] = os.getloadavg()[0]
    print(json.dumps({"context": context, "run": detail}))
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
