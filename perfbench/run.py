"""Benchmark entry point.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Runs one workload of ``perfbench/workloads.py`` in one process against
a ``local[N]`` Spark session (N = min(4, cores)), from the checkout this
file sits in. ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
runs traced and untraced units alternately and prints the per-layer
metrics, and writes every span to ``.perfbench_out/``. The last stdout
line is the result JSON. All scratch files live under
``.perfbench_work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "2g"

#: untimed warm-up units before timing: the cold one
WARM_UNITS = 1
#: every run times at least this many units, even past --seconds
MIN_UNITS = 2
#: the largest share of a traced unit's wall time that its layer spans
#: may leave unattributed
SELF_TIME_TOLERANCE = 0.05


class TreeRss:
    """Peak memory of this process and every descendant (JVM, Python
    workers) at one time: every ``interval`` seconds, the proportional
    set size (Pss, so pages a forked worker shares with its parent count
    once) summed over the processes alive in the tree; the peak is the
    largest of these sums."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                kids.setdefault(ppid, []).append(int(d))
        return kids

    def sample(self) -> None:
        kids = self._children()
        todo = [os.getpid()]
        total = 0
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:  # the process ended between listing and reading
                continue
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_kb / 1024.0


def pin_environment(work: str) -> dict:
    """Resources for the engine, set before the JVM starts: cores,
    driver heap, scratch dirs inside the checkout, and
    PYTHONPATH so Python workers import the engine from this checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    return {
        "master": f"local[{CORES}]",
        "shuffle_partitions": CORES,
        "driver_memory": DRIVER_MEMORY,
        "extra_conf": {
            "spark.local.dir": local,
            # no /tmp/hsperfdata_* outside the checkout
            "spark.driver.extraJavaOptions": " ".join(
                [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]),
        },
    }


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM pyspark launched for this process and
    wait for it: the gateway JVM exits when its stdin pipe closes."""
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if jvm is not None:
        jvm.stdin.close()
        jvm.wait(timeout=60)


def run_batch(w, seconds: float, tracer) -> dict:
    """Units until ``seconds`` have passed (at least MIN_UNITS). Traced
    runs alternate traced and untraced units, starting and ending with a
    traced one (at least three), so a steady drift cancels out of the
    tracing overhead."""
    times = {True: [], False: []}
    traced_ids, unattributed = [], []
    attempted = failed = 0
    k = 0
    start = time.perf_counter()
    while (time.perf_counter() - start < seconds or k < MIN_UNITS
           or (tracer is not None and k % 2 == 0)):
        traced = tracer is not None and k % 2 == 0
        attrs: dict = {}
        try:
            if traced:
                w.instrument(tracer)
                try:
                    with tracer.trace(f"{w.name}.unit") as root:
                        result = w.unit(k, tracer)
                finally:
                    tracer.restore()
                dt = root["end"] - root["start"]
                attrs = root["attrs"]
                traced_ids.append(root["trace"])
                self_t = tracer.self_times()[root["id"]]
                unattributed.append(self_t / dt)
            else:
                t0 = time.perf_counter()
                result = w.unit(k)
                dt = time.perf_counter() - t0
            att, fail = w.check(result, attrs)
            if traced:
                # before the status store evicts this unit's jobs
                tracer.resolve_spark_counts()
        except Exception:
            traceback.print_exc()
            att, fail, dt = 1, 1, None
        attempted += att
        failed += fail
        if dt is not None:
            times[traced].append(dt)
        k += 1
    return {"untraced": times[False], "traced": times[True], "traced_ids": traced_ids,
            "unattributed": unattributed, "attempted": attempted, "failed": failed}


def warm_batch(w) -> tuple[list[float], int, int]:
    """WARM_UNITS checked, untimed units; returns their times and the
    operations they attempted and failed, which count in the run's."""
    times = []
    attempted = failed = 0
    for k in range(WARM_UNITS):
        t0 = time.perf_counter()
        att, fail = w.check(w.unit(-1 - k), {})
        times.append(time.perf_counter() - t0)
        attempted += att
        failed += fail
    return times, attempted, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", help="input size class (smoke: smallest)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "osm_poi_cloud_spark", "__init__.py")):
        print(f"perfbench: no engine source (osm_poi_cloud_spark/) under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads as wl

    if args.workload not in wl.WORKLOADS or args.size not in wl.SIZES:
        print(f"perfbench: unknown workload {args.workload!r} or size {args.size!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    rss = TreeRss()
    rss.start()
    spark = None
    try:
        workload = wl.WORKLOADS[args.workload]
        res = pin_environment(work)
        from osm_poi_cloud_spark.config import get_spark

        spark = get_spark(f"perfbench-{args.workload}", master=res["master"],
                          shuffle_partitions=res["shuffle_partitions"], extra_conf=res["extra_conf"])
        t_session = time.perf_counter() - T0
        w = workload(spark, work, args.seed, wl.SIZES[args.size])
        w.setup()
        t_inputs = time.perf_counter() - T0 - t_session
        out = measure(w, args, wl)
        out["info"].update(session_s=t_session, inputs_s=t_inputs)
        out["info"]["setup_s"] = out["setup_s"]
        peak_mb = rss.stop()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    info = {"resources": {k: v for k, v in res.items() if k != "extra_conf"} | {
        "python_workers_max": CORES}, **out["info"]}
    print("perfbench info: " + json.dumps(info, default=str))
    attempted, failed = out["attempted"], out["failed"]
    metrics = out["layers"] if args.trace else {
        "setup_s": (out["setup_s"], "s"),
        "success_rate": ((attempted - failed) / attempted, "ratio"),
        "peak_rss_mb": (peak_mb, "MB"),
        "unit_p50_ms": (out["unit_p50_ms"], "ms"),
    }
    print(json.dumps({
        "correct": failed == 0 and out.get("trace_ok", True),
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def measure(w, args, wl) -> dict:
    """Warm up, then measure; returns numbers for the result line."""
    from perfbench.trace import Tracer

    tracer = Tracer(w.spark.sparkContext) if args.trace else None
    warm, warm_attempted, warm_failed = warm_batch(w)
    setup_s = time.perf_counter() - T0
    r = run_batch(w, args.seconds, tracer)
    base = r["untraced"]
    out = {"setup_s": setup_s, "attempted": warm_attempted + r["attempted"],
           "failed": warm_failed + r["failed"],
           "unit_p50_ms": 1000 * statistics.median(base),
           "info": {"warmup_unit_s": warm, "units": len(base), "unit_s": base,
                    "traced_unit_s": r["traced"]}}
    if tracer is None:
        return out
    layers = {name: (0.0, unit) for name, unit in wl.PER_LAYER}
    layers.update(w.layers(tracer, r["traced_ids"]))
    tracer.resolve_spark_counts()
    by = tracer.by_trace()
    for key in ("spark.jobs", "spark.tasks", "spark.failed_tasks"):
        layers[key] = (statistics.median(sum(s.get(key, 0) for s in by[t])
                                         for t in r["traced_ids"]), "count")
    layers["trace.overhead_ms"] = (1000 * (statistics.median(r["traced"]) - statistics.median(base)), "ms")
    layers["trace.unattributed_ratio"] = (statistics.median(r["unattributed"]), "ratio")
    out["trace_ok"] = max(r["unattributed"]) <= SELF_TIME_TOLERANCE
    if not out["trace_ok"]:
        print(f"trace check failed: a traced unit left {max(r['unattributed']):.3f} of its "
              f"wall time outside its layer spans (tolerance {SELF_TIME_TOLERANCE})", file=sys.stderr)
    companion = wl.COMPANIONS[w.name](w.spark, w.work, w.seed, w.size)
    try:
        companion.setup()
        extra, attempted, failed = companion.run_traced(tracer, args.seconds)
    finally:
        companion.teardown()
    layers.update(extra)
    out["attempted"] += attempted
    out["failed"] += failed
    tracer.resolve_spark_counts()
    out["layers"] = layers
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "info": out["info"]})
    return out


if __name__ == "__main__":
    sys.exit(main())
