"""Engine benchmark: one workload per invocation, one closed-loop client.

    python3 enginebench/run.py --workload kernels --seed 1 --seconds 8 --trace 0

Prints context lines, then as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the loop
untraced and then traced and reports the per-layer metrics. See
enginebench/README.md for definitions, the layer map and the evidence
behind each choice.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("corpus_ingest", "lineitem_pruned", "kernels")
# set-ups after the cold first one; setup_s is their median
WARM_SETUPS = {"corpus_ingest": 3, "lineitem_pruned": 3, "kernels": 9}
WORK_ROOT = ".enginebench_work"

# end-to-end metric -> unit
END_TO_END = {
    "setup_s": "s",
    "ingest_gbps": "GB/s",
    "scan_gbps": "GB/s",
    "op_p50_ms": "ms",
    "compression_ratio": "x",
    "bytes_vs_parquet": "ratio",
    "peak_rss_mb": "MB",
}
# timing samples reported at the reference host speed (README.md, "Raw or
# probe-scaled"), as is setup_s; every other metric is reported as measured
PROBE_SCALED = {"ingest_gbps", "scan_gbps", "op_ms"}
RATES = {"ingest_gbps", "scan_gbps"}


class Context:
    """What a workload loop needs: its budget, tracer and ledger, a private
    work directory, the interleaved probe and a sample recorder. Loops stop
    once ``timed`` (seconds of timed work) reaches ``seconds``."""

    def __init__(self, seconds, tracer, ledger, work, probe, probe_every_s):
        self.seconds = seconds
        self.tracer = tracer
        self.ledger = ledger
        self.work = work
        self.probe = probe
        self.timed = 0.0
        self.samples: dict[str, list[float]] = {}
        self._every = probe_every_s
        self._last = 0.0

    def probe_between_ops(self) -> None:
        if time.perf_counter() - self._last >= self._every:
            self.probe.run()
            self._last = time.perf_counter()

    def record(self, metric: str, value: float) -> None:
        self.samples.setdefault(metric, []).append(value)


def e2e_metrics(ctx: Context, res: dict, setup: tuple, peak_rss: int, probe):
    """End-to-end values (timings as medians over samples, scaled by the
    run's probe factor; setup_s by the factor of the probes next to the
    set-ups) and the context lines that explain them."""
    from enginebench.common import PROBE_REF_S, median

    scale = probe.time_scale()
    setup_raw, setup_scale = setup
    values = {"setup_s": setup_raw * setup_scale}
    lines = [
        f"probe median {probe.median() * 1e3:.2f} ms over {len(probe.samples)} probes "
        f"(reference {PROBE_REF_S * 1e3:.0f} ms): time scale {scale:.4f}",
        f"setup_s raw {setup_raw:.6g}, reported {values['setup_s']:.6g} at the set-up "
        f"probes' time scale {setup_scale:.4f} ({setup_raw * scale:.6g} at the run's)",
    ]
    series = {}
    for name, raw in ctx.samples.items():
        factor = (1 / scale if name in RATES else scale) if name in PROBE_SCALED else 1.0
        series[name] = [v * factor for v in raw]
        lines.append(f"{name} n={len(raw)}: raw median {median(raw):.6g}, reported median {median(series[name]):.6g}")
        lines.append(f"{name} samples raw: " + " ".join(f"{v:.4g}" for v in raw))
    values["ingest_gbps"] = median(series["ingest_gbps"])
    values["scan_gbps"] = median(series["scan_gbps"])
    values["op_p50_ms"] = median(series["op_ms"])
    written, stored = res["store_sizes"]
    values["compression_ratio"] = res["raw_bytes"] / stored
    values["bytes_vs_parquet"] = stored / res["parquet_bytes"]
    values["peak_rss_mb"] = peak_rss / 1e6
    lines.append(
        f"size inputs: raw {res['raw_bytes']} B, store {stored} B with encode_s zeroed "
        f"({written} B as written), parquet {res['parquet_bytes']} B"
    )
    return values, lines


def finish_layers(ctx: Context, res: dict, untraced: Context) -> dict:
    """Per-layer values: mean self time per op of every spanned layer, the
    workload's own counts, and the overhead and residual of the trace."""
    from enginebench.common import median
    from enginebench.layers import SPAN_METRIC

    by_name, residual = ctx.tracer.self_times()
    op_ms = ctx.samples["op_ms"]
    n_ops = max(1, ctx.tracer.n_ops)
    layer = dict(res.get("layer", {}))
    for span, metric in SPAN_METRIC.items():
        if span in by_name:
            layer[metric] = layer.get(metric, 0.0) + sum(by_name[span]) / n_ops
    base = median(untraced.samples["op_ms"])
    layer["trace.overhead_pct"] = 100.0 * (median(op_ms) / base - 1.0)
    layer["trace.unaccounted_ms"] = residual * 1e3
    return layer


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.chdir(REPO)
    sys.path.insert(0, REPO)
    if not os.path.isdir(os.path.join(REPO, "parzig_spark")):
        print("enginebench: no parzig_spark package next to the benchmark", file=sys.stderr)
        return 2

    from enginebench.common import (
        PROBE_REF_S, Ledger, Probe, RssSampler, Tracer, cpu_ticks, median,
    )
    from enginebench.layers import PER_LAYER

    # relative, fixed work path: manifests record blob paths, so store bytes
    # stay a pure function of the seed whatever the checkout is called
    work = os.path.join(WORK_ROOT, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    probe = Probe()
    steal0, total0 = cpu_ticks()
    ledger = Ledger()
    spark_env = None
    lines: list[str] = []
    try:
        with RssSampler() as rss:
            if args.workload == "kernels":
                from enginebench import kernels as wl

                env_args = ()
                setup, run = wl.setup, wl.run
            else:
                from enginebench import spark_workloads as wl

                spark_env = wl.SparkEnv(work, trace=bool(args.trace))
                env_args = (spark_env,)
                lines.append(f"session ready at {time.perf_counter() - T_START:.2f} s")
                prefix = args.workload.split("_")[0]
                setup, run = getattr(wl, f"{prefix}_setup"), getattr(wl, f"{prefix}_run")
                warm_up = getattr(wl, f"{prefix}_warm_up")
            # the first set-up runs cold; the untimed warm-up then exercises
            # every timed path once, and the later set-ups run warm. setup_s
            # is the median of the warm set-ups; the one-time costs before
            # them (imports, session, cold set-up, warm-up) are printed.
            setup_times, setup_samples = [], []
            for k in range(1 + WARM_SETUPS[args.workload]):
                probe.run()
                t0 = time.perf_counter()
                state = setup(*env_args, args.seed)
                setup_times.append(time.perf_counter() - t0)
                if k:  # timing samples of the cold first set-up are dropped
                    setup_samples += state.pop("samples", [])
                if k == 0 and spark_env is not None:
                    warm_up(spark_env, state)
                    lines.append(f"warm-up done at {time.perf_counter() - T_START:.2f} s")
            probe.run()
            # the probes before each warm set-up and after the last one:
            # host speed while the set-ups ran
            setup = (median(setup_times[1:]), PROBE_REF_S / median(probe.samples[1:]))
            lines.append("set-up repeats: " + ", ".join(f"{t:.3f}" for t in setup_times) + " s")
            lines.append(
                f"first timed op at {time.perf_counter() - T_START:.2f} s; one-time costs "
                f"{time.perf_counter() - T_START - sum(setup_times[1:]):.2f} s (not in setup_s)"
            )

            def loop(traced: bool, tag: str):
                ctx = Context(
                    args.seconds, Tracer(traced), ledger,
                    os.path.join(work, tag), probe, 0.5,
                )
                for sample in setup_samples:
                    ctx.record(*sample)
                os.makedirs(ctx.work)
                return ctx, run(ctx, *env_args, state)

            ctx, res = loop(False, "plain")
            if args.trace:
                ctx_t, res_t = loop(True, "trace")
        peak = rss.peak
        if args.trace and args.workload == "corpus_ingest":
            read_path, line = wl.corpus_read_path(spark_env, args.seed, ledger)
            res_t["layer"].update(read_path)
            lines.append(line)
        if args.trace and spark_env is not None:
            from enginebench.eventlog import op_layers

            lines.append(spark_env.stop())  # flushes the event log
            # per traced op window: a corpus iteration, a lineitem query
            windows = res_t["windows"]
            ev, groups = op_layers(spark_env.events, windows, len(windows))
            res_t["layer"].update(ev)
            lines.append(f"traced jobs by group: {json.dumps(groups, sort_keys=True)}")
        values, more = e2e_metrics(ctx, res, setup, peak, probe)
        lines += more
        if args.trace:
            traced, _ = e2e_metrics(ctx_t, res_t, setup, peak, probe)
            for k in END_TO_END:
                lines.append(f"traced {k} {traced[k]:.6g} vs untraced {values[k]:.6g}")
            layer = finish_layers(ctx_t, res_t, ctx)
            metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
        else:
            metrics = {n: {"value": float(values[n]), "unit": u} for n, u in END_TO_END.items()}
        for k, v in res["context"].items():
            lines.append(f"{k}: {v}")
    finally:
        if spark_env is not None and spark_env.spark is not None:
            lines.append(spark_env.stop())
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)
    steal1, total1 = cpu_ticks()
    lines.append(
        f"steal {100.0 * (steal1 - steal0) / max(1, total1 - total0):.3f}% of cpu time "
        f"({steal1 - steal0} jiffies)"
    )
    lines += [f"FAILED op: {r}" for r in ledger.reasons]
    lines.append(
        f"fail_share {ledger.failed / max(1, ledger.attempted):.6g} "
        f"({ledger.failed}/{ledger.attempted})"
    )
    print("\n".join(lines))
    print(
        json.dumps(
            {
                "correct": ledger.failed == 0,
                "attempted": ledger.attempted,
                "failed": ledger.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
