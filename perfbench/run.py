"""The repo's benchmark: one seeded, closed-loop, single-client workload
per run against the public API of ``lotus_spark``.

    python3 perfbench/run.py --workload semantic_batch --seed 1 --seconds 10 --trace 0

A run: start the session, generate the inputs from ``--seed`` and build
what the workload serves from (set-up); run a fixed number of untimed
whole cycles (warm-up, part of set-up); then repeat a fixed
cycle of operations, timing each, until ``--seconds`` have passed
(timed phase, always at least the workload's ``TIMED_CYCLES``). Every result is checked
against an independent reference after the timed phase.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
traced and untraced cycles and prints the per-layer metrics, including
the tracing overhead (traced minus untraced cycle wall time). The last
line of standard output is the JSON result; the lines before it name
each metric as README.md does. Spans of a traced run are written to
``.perfbench_out/``.

Exit status is 0 when the run completed, whether or not every check
passed (see ``failed``); 2 when the program under test cannot be
imported, with no result printed.
"""
from __future__ import annotations

import argparse
import hashlib
import os
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def warm_up(wl, tracer) -> list:
    """Untimed: ``wl.WARM_CYCLES`` whole cycles, so every operation kind
    has run before the timed phase. Returns their latencies."""
    tracer.active = False
    lat = []
    for c in range(wl.WARM_CYCLES):
        for j, kind in enumerate(wl.CYCLE):
            s = time.perf_counter()
            wl.run(kind, c * len(wl.CYCLE) + j, warm=True)
            lat.append(time.perf_counter() - s)
    return lat


def timed_phase(wl, tracer, seconds: float) -> dict:
    """Whole cycles until ``seconds`` have passed and at least
    ``wl.TIMED_CYCLES`` have run. In a traced run even cycles are traced
    and odd ones are not, and at least one of each runs."""
    records, cycles = [], []
    t0 = time.perf_counter()
    i = 0
    least = max(wl.TIMED_CYCLES, 2 if tracer.enabled else 1)
    while len(cycles) < least or time.perf_counter() - t0 < seconds:
        traced = tracer.enabled and len(cycles) % 2 == 0
        tracer.active = traced
        wall = 0.0
        for kind in wl.CYCLE:
            wl.last_steps = {}
            with tracer.operation(f"{kind}-{i}"):
                s = time.perf_counter()
                try:
                    res, err = wl.run(kind, i), None
                except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                    res, err = None, traceback.format_exc()
                d = time.perf_counter() - s
            wall += d
            records.append({"kind": kind, "i": i, "s": d, "result": res,
                            "steps": dict(wl.last_steps),
                            "error": err})
            i += 1
        tracer.active = False
        wl.after_cycle(records[-len(wl.CYCLE):])
        cycles.append({"traced": traced, "wall": wall})
    return {"records": records, "cycles": cycles}


def main(argv=None) -> int:
    args = parse(argv)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import duckdb  # noqa: F401  - the references' engine
        import lotus_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}",
              file=sys.stderr)
        return 2

    import harness
    import layers
    from index_serving import IndexServing
    from semantic_batch import SemanticBatch
    from spans import Tracer

    WORKLOADS = {"semantic_batch": SemanticBatch, "index_serving": IndexServing}

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.clean_dir(work)
    harness.prepare_env(ROOT, work)
    tracer = Tracer(bool(args.trace))
    t0 = time.perf_counter()
    spark = harness.start_spark(tracer)
    try:
        tracer.bind(spark)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        if args.trace:
            wl.wrap_layers()
        setup_steps = wl.setup()
        warm = warm_up(wl, tracer)
        print("perfbench: warm-up latencies " + " ".join(f"{x:.2f}" for x in warm),
              file=sys.stderr)
        setup_s = time.perf_counter() - t0
        wl.begin_timed()
        phase = timed_phase(wl, tracer, args.seconds)
        records = phase["records"]
        for r in records:
            if r["error"] is None and not wl.check(r["kind"], r["i"], r["result"]):
                r["error"] = "result differs from the reference"
        failed = [r for r in records if r["error"] is not None]
        print("perfbench: timed latencies " + " ".join(
            f"{r['kind']}={r['s']:.2f}" for r in records), file=sys.stderr)
        untraced = [c["wall"] for c in phase["cycles"] if not c["traced"]]
        info = {"warm_ops": len(warm), **setup_steps}
        if args.trace:
            extra = wl.after_timed(time.perf_counter() - t0)
            records += extra
            failed += [r for r in extra if r["error"] is not None]
            tracer.resolve()
            traced = [c["wall"] for c in phase["cycles"] if c["traced"]]
            per_layer = wl.layer_metrics(tracer)
            per_layer["session.get_spark_s"] = tracer.field_medians(
                "session.get_spark")["construct_s"]
            per_layer["trace.wall_s"] = harness.median(traced)
            per_layer["trace.untraced_wall_s"] = harness.median(untraced)
            per_layer["trace.overhead_s"] = (
                per_layer["trace.wall_s"] - per_layer["trace.untraced_wall_s"])
            metrics = layers.complete(per_layer)
            tracer.write(os.path.join(
                ROOT, ".perfbench_out",
                f"spans-{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = wl.end_to_end(records, untraced, setup_s)
        for r in failed[:3]:
            print(f"perfbench: {r['kind']} {r['i']} failed: {r['error']}",
                  file=sys.stderr)
        for line in wl.describe(metrics, info):
            print(line)
        first = records[:len(wl.CYCLE)]
        print("perfbench: fingerprint " + hashlib.sha256(
            repr([(r["kind"], r["result"]) for r in first]).encode()).hexdigest()
            + f" work_per_op {wl.work_per_op()!r}")
    finally:
        try:
            harness.stop_spark(spark)
        finally:
            harness.clean_dir(work)
    harness.emit(not failed, len(records), len(failed), metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
