"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 15 --trace 0

One process, one Spark session at local[nproc], one closed-loop client.
The last stdout line is the result object; the line before it is the
run's report (per-call-type latencies, machine state, floors). With
``--trace 1`` the result holds the per-layer metrics instead of the
end-to-end ones, and the spans are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bulk", "online")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run, the JVM and the workers write in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # without -UsePerfData the JVM writes its perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    # a fixed driver heap keeps memory small and peak RSS comparable
    os.environ["SPARK_DRIVER_MEM"] = "2g"


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for them."""
    from meter import tree_pids
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while (left := [p for p in tree_pids() if p != os.getpid()]):
        if time.monotonic() > deadline:
            for pid in left:
                os.kill(pid, signal.SIGKILL)
        time.sleep(0.2)
        try:  # reap children that already exited
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def medians(samples: dict, traced: bool) -> dict[str, float]:
    return {k: statistics.median(v) for (t, k), v in samples.items()
            if t == traced and v}


def loop_metrics(wl, med: dict[str, float]) -> dict[str, float]:
    """The end-to-end metrics computed from per-call-type medians."""
    kinds = [k for k in wl.kinds if k in med]
    return {
        "call_p50_ms": med.get(wl.headline, 0.0),
        "mix_geo_ms": (math.exp(statistics.fmean(math.log(med[k])
                                                 for k in kinds))
                       if kinds else 0.0),
        "items_per_s": wl.items_per_s(med) if wl.headline in med else 0.0,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import pdf_to_opensearch_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2

    import meter
    from inputs import Inputs

    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    isolate(work)
    excluded = time.perf_counter()
    cpu0 = meter.cpu_times()
    calib_before = meter.calibrate_ms()
    inputs = Inputs(args.workload, args.seed)
    excluded = time.perf_counter() - excluded

    from pdf_to_opensearch_spark.session import get_spark

    import workloads

    cores = len(os.sched_getaffinity(0))
    report: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "cores": cores}
    spark = None
    try:
        with meter.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}", cores=cores)
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            tracer = meter.Tracer(spark, enabled=bool(args.trace))
            run = workloads.Run(spark, tracer, inputs, work, cores)
            wl = {"bulk": workloads.Bulk,
                  "online": workloads.Online}[args.workload](run)
            wl.setup()
            setup_s = meter.process_age_s() - excluded - run.unclocked_s

            run.samples.clear()
            # the timed loop: whole rounds until --seconds of call time.
            # A traced run traces every other round, or, where rounds change
            # the index, makes each read both ways (``Run.paired``); the
            # difference is the tracing overhead.
            run.unclocked_s = 0.0
            t_loop = time.perf_counter()
            rounds = 0
            while (rounds < wl.min_rounds or time.perf_counter() - t_loop
                   - run.unclocked_s < args.seconds):
                tracer.enabled = bool(args.trace) and (run.paired
                                                       or rounds % 2 == 1)
                wl.round(rounds)
                rounds += 1
            report["rounds"] = rounds
            report["floor.empty_task_ms"] = meter.empty_task_ms(spark, cores)
            report["floor.memcpy_gbps"] = meter.memcpy_gbps()
            layer = None
            if args.trace:
                from sweep import run_sweep
                layer = run_sweep(run)
            report["index_dir_bytes"] = meter.dir_bytes(wl.final_index())
    finally:
        if spark is not None:
            stop_spark(spark)
    report["calib_before_ms"] = calib_before
    report["calib_after_ms"] = meter.calibrate_ms()
    report["steal_share"] = meter.steal_share(cpu0, meter.cpu_times())
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:  # another run still works there
        pass

    untraced = medians(run.samples, traced=False)
    report["p50_ms_by_call"] = untraced
    report["ms_by_call"] = {k: v for (t, k), v in run.samples.items()
                            if not t}
    report["peak_rss_split_mb"] = {k: v / 2**20 for k, v in rss.split.items()}
    report.update(run.report)
    e2e = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
        "ok_ratio": (1 - run.failed / max(run.attempted, 1), "ratio"),
        "index_bytes_per_text_byte":
            (run.report.get("index_bytes_per_text_byte", 0.0), "ratio"),
    }
    units = {"call_p50_ms": "ms", "mix_geo_ms": "ms", "items_per_s": "1/s"}
    for name, value in loop_metrics(wl, untraced).items():
        e2e[name] = (value, units[name])
    if args.trace:
        on = medians(run.samples, traced=True)
        both = on.keys() & untraced.keys()
        traced = loop_metrics(wl, {k: on[k] for k in both})
        plain = loop_metrics(wl, {k: untraced[k] for k in both})
        layer.update({f"trace.overhead.{k}": traced[k] - plain[k]
                      for k in traced})
        layer["session.get_spark_s"] = session_s
        for key in ("floor.empty_task_ms", "floor.memcpy_gbps"):
            layer[key] = report[key]
        layer["machine.steal_share"] = report["steal_share"]
        layer["machine.calib_before_ms"] = calib_before
        layer["machine.calib_after_ms"] = report["calib_after_ms"]
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                               "-spans.jsonl"), "w") as f:
            for s in tracer.spans:
                f.write(json.dumps(s) + "\n")
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(layer.items())}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    report["end_to_end"] = {k: v for k, (v, _u) in e2e.items()}
    want = declared_units(bool(args.trace))
    got = {k: m["unit"] for k, m in metrics.items()}
    if got != want:
        print(f"perfbench: metrics differ from BENCHMARK.json: emitted "
              f"{sorted(got.items() - want.items())}, declared "
              f"{sorted(want.items() - got.items())}", file=sys.stderr)
        return 3
    print(json.dumps({"report": report}, default=float))
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted,
                      "failed": run.failed,
                      "metrics": metrics}, default=float), flush=True)
    return 0


def declared_units(trace: bool) -> dict[str, str]:
    """name → unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def layer_unit(name: str) -> str:
    if name.endswith("items_per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_gbps"):
        return "GB/s"
    if name.endswith("bytes") or name.endswith("_written"):
        return "B"
    if name == "codec.bytes_per_posting":
        return "B/posting"
    if name.endswith(("_share", "_yield")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
