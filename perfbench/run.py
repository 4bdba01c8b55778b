"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload survey_search --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout: the program is imported from
there, and every file the run writes stays under ``.perfbench_work/``
in that checkout. Set-up (session bring-up, input generation and one
untimed warm operation) comes first; then operations run back to back
for ``--seconds`` and each is checked for correctness afterwards.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, taken from spans around each call into a layer (see
``spans.py``). The line before it is a readable summary.

The run keeps to the workload's ``SLOT_SHARE`` of the cores this process
may use. Parallelism and driver memory come from ``SPARK_GRAFT_CPUS``
(default: all of those cores) and ``SPARK_DRIVER_MEM`` (default 3g).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "lightcurvesclassifier_spark"
SETUP_REPEATS = 3


# ------------------------------------------------------------- processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


# ------------------------------------------------------------- session


def start_spark(work: str):
    """A session whose scratch files all stay under ``work``."""
    from lightcurvesclassifier_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # for the launcher JVM as well as the driver: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"]))
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = descendants(os.getpid())
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(_alive(p) for p in procs):
        time.sleep(0.1)


def reclaim(spark) -> None:
    """Drop cached data and collect garbage on both sides between timed
    operations, as bench.py does, so one operation's leftovers do not
    tax the next."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


# ------------------------------------------------------------- the run


def measure(wl, tracer, seconds: float, per_op_reclaim: bool, min_ops: int = 1):
    """Run operations back to back for ``seconds``, and at least
    ``min_ops``, ending on a whole block of ``wl.BLOCK`` operations so
    every block holds the workload's full mix. Returns one record per
    operation: its seconds, items, payload (None if it raised), error
    text and root span."""
    ops = []
    start = time.perf_counter()
    while (len(ops) < min_ops or time.perf_counter() - start < seconds
           or len(ops) % wl.BLOCK):
        if per_op_reclaim:
            reclaim(wl.spark)
        t0 = time.perf_counter()
        with tracer.span(f"{wl.name}.op") as root:
            try:
                items, payload = wl.op(tracer)
                err = None
            except Exception:
                items, payload, err = 0, None, traceback.format_exc()
        ops.append({"s": time.perf_counter() - t0, "items": items,
                    "payload": payload, "error": err, "span": root})
    return ops


def end_to_end(ops, setup_s: float, block: int) -> dict:
    """Throughput is that of the median block of operations, so one
    slow stretch of a shared host does not move it; latency is the
    median operation's."""
    ok = [o for o in ops if o["error"] is None] or ops
    blocks = [ok[i:i + block] for i in range(0, len(ok), block)]
    return {
        "setup_s": (setup_s, "s"),
        "items_per_s": (statistics.median(
            sum(o["items"] for o in b) / sum(o["s"] for o in b) for b in blocks), "1/s"),
        "op_ms_p50": (statistics.median(o["s"] * 1000.0 for o in ok), "ms"),
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # pandas UDFs import the package inside Python workers, which only
    # find it when the checkout root is on their PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])
    # get_spark's own default (48g) is more than a small machine has
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")

    import layers
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # the run, JVM and Python workers included, keeps to the workload's
    # share of the cores; local[n] defaults to all of them
    cores = sorted(os.sched_getaffinity(0))
    n = max(1, int(len(cores) * WORKLOADS[args.workload].SLOT_SHARE))
    os.sched_setaffinity(0, cores[:n])
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(n))

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        off = Tracer(False, run_id)
        # generating inputs is repeated and its median taken; the warm
        # pass runs once (its length is the workload's WARM_OPS), because
        # a cold filter_pipeline operation costs about two warm ones (JIT
        # and code generation) and the run's time budget has room for one
        gens = []
        for _ in range(SETUP_REPEATS):
            shutil.rmtree(os.path.join(work, "in"), ignore_errors=True)
            t0 = time.perf_counter()
            wl.generate()
            gens.append(time.perf_counter() - t0)
        reclaim(spark)
        t0 = time.perf_counter()
        warm = measure(wl, off, 0, per_op_reclaim=False, min_ops=wl.WARM_OPS)
        errors = [o["error"] for o in warm if o["error"]]
        if errors:
            print(f"perfbench: warm operation failed:\n{errors[0]}", file=sys.stderr)
            return 1
        setup_s = session_s + statistics.median(gens) + time.perf_counter() - t0
        per_op_reclaim = wl.RECLAIM_BETWEEN_OPS
        reclaim(spark)

        if args.trace:
            # untraced first half, traced second half: the difference is
            # the tracing overhead
            plain = measure(wl, off, args.seconds / 2, per_op_reclaim)
            tracer = Tracer(True, run_id, spark)
            traced = measure(wl, tracer, args.seconds / 2, per_op_reclaim)
            ops = plain + traced
        else:
            ops = measure(wl, off, args.seconds, per_op_reclaim)

        failed = 0
        for o in ops:
            fails = [o["error"]] if o["error"] else wl.check(o["payload"])
            if fails:
                failed += 1
                print(f"perfbench: {wl.name} failed: {fails[:3]}", file=sys.stderr)

        if args.trace:
            metrics = layers.per_layer(tracer, traced, plain, wl)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.write(os.path.join(base, "traces", f"{run_id}.json"))
        else:
            metrics = end_to_end(ops, setup_s, wl.BLOCK)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    summary = {k: f"{v:.4g} {u}" for k, (v, u) in metrics.items()}
    if args.trace:
        names = [s.name for s in tracer.spans]
        summary["span_counts"] = {n: names.count(n) for n in sorted(set(names))}
    else:
        summary.update(wl.headline([o for o in ops if o["error"] is None] or ops))
    print(f"perfbench {args.workload} seed={args.seed} ops={len(ops)} "
          f"failed_ops_frac={failed / len(ops):.4g} {json.dumps(summary)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
