"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. The inputs are generated from ``--seed``
into a private run directory under ``.perfbench_work/``; the program
reads only those files. Every metric is printed by name with its unit,
every output is checked against a reference computed from the generated
data, and the last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` reports its per-layer metrics and writes every span, with
self times, to ``.perfbench_out/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import ROOT, CpuMeter, RssSampler, RunDir, Session, Tracer, cpu_steal_s  # noqa: E402

WORKLOADS = ("interactive", "curate", "ingest")


def _workload(name: str):
    import importlib

    return importlib.import_module(name).Workload


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    spec = _spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    sys.path.insert(0, ROOT)
    from providenciasbigdata_spark import staging  # fails fast outside a checkout

    run_dir = RunDir(workload, seed)
    session = Session(run_dir)
    try:
        t0 = time.perf_counter()
        wl = _workload(workload)(seed, run_dir)
        gen_s = time.perf_counter() - t0
        setup_s, get_spark_s, eng = session.setup(wl.build_engine)
        tracer = Tracer(trace)
        wl.warm_up(eng, tracer)
        n_events = len(staging.EVENTS)
        steal0 = cpu_steal_s()
        with RssSampler(session.jvm_proc.pid) as rss, CpuMeter(session.jvm_proc.pid) as cpu:
            attempted, failed = wl.measure(eng, seconds, tracer, cpu)
        steal_s = cpu_steal_s() - steal0
        staged = staging.EVENTS[n_events:]
        if trace:
            layer = wl.per_layer(tracer)
            layer["session.get_spark_s"] = get_spark_s
            metrics = {m["name"]: layer.get(m["name"], 0.0) for m in spec["per_layer"]}
            _write_trace(workload, seed, tracer, layer)
        else:
            metrics = {
                "setup_s": setup_s,
                "cpu_s_per_op": cpu.total_s / attempted,
                "peak_rss_mb": rss.peak_mb,
            }
            metrics = {m["name"]: metrics[m["name"]] for m in spec["end_to_end"]}
        # the wall-clock figures are printed, not gated: on a shared host
        # they carry the time the host keeps the program waiting (see the
        # README). In a traced run these are the traced figures; against
        # a --trace 0 run of the same seed they give the tracing overhead.
        e2e = {"cpu_s_per_op": cpu.total_s / attempted, **wl.end_to_end()}
        prefix = "traced_" if trace else ""
        notes = {
            "input_generation_s": gen_s,
            "error_rate": failed / max(attempted, 1),
            "staging_writes_in_timed_region": len(staged),
            "cpu_steal_s_in_timed_region": steal_s,
            "cpu_s_jvm_and_workers": cpu.jvm_s,
            "cpu_s_main_thread_in_ops": cpu.main_s,
            **{prefix + k: v for k, v in e2e.items() if trace or k not in metrics},
            **wl.notes(),
        }
        if trace:
            notes.update({f"self_s {k}": v["self_s"] for k, v in tracer.by_name().items()})
    finally:
        session.close()
        run_dir.close()
    for name, value in metrics.items():
        print(f"{workload:12s} {name:48s} {value:14.6f} {units[name]}")
    for name, value in notes.items():
        print(f"{workload:12s} {name:48s} {value}")
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def _write_trace(workload: str, seed: int, tracer: Tracer, layer: dict) -> None:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    spans = tracer.self_times()
    t0 = spans[0]["start"] if spans else 0.0
    record = {
        "workload": workload,
        "seed": seed,
        "layers": layer,
        "self_s": {k: v["self_s"] for k, v in tracer.by_name().items()},
        "spans": [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in spans
        ],
    }
    with open(os.path.join(out_dir, f"trace-{workload}-s{seed}.json"), "w") as fh:
        json.dump(record, fh)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
