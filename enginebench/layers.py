"""Per-layer metric names and the trace hooks that feed them.

Hooks wrap engine functions at their call sites for the duration of a
traced run (``Tracer.wrap``); untraced runs never install them. Executor-
side work in Spark workloads is not visible to these hooks — it comes from
the Spark event log (``eventlog.py``) and the ``encode_s`` column of the
summary ``encode_table`` returns."""

from __future__ import annotations

import json

from parzig_spark.codecs import CODEC_NAMES as CODECS

# (name, unit) in report order; every traced run prints all of them, and a
# layer a workload never enters reports 0.
PER_LAYER = (
    [
        ("selector.s", "s"),
        ("selector.trials", "count"),
        ("selector.fsst_trials", "count"),
        ("selector.fsst_wins", "count"),
        ("codecs.encode_s", "s"),
        ("codecs.decode_s", "s"),
    ]
    + [(f"codecs.{c}.{d}_gbps", "GB/s") for c in CODECS for d in ("encode", "decode")]
    + [
        ("stats.s", "s"),
        ("encode.plan_s", "s"),
        ("encode.job_s", "s"),
        ("encode.task_kernel_s", "s"),
        ("encode.digest_s", "s"),
        ("encode.partitions", "count"),
        ("spark.jobs", "count"),
        ("jvm.executor_run_s", "s"),
        ("jvm.shuffle_records", "count"),
        ("jvm.shuffle_write_mb", "MB"),
        ("jvm.sort_s", "s"),
        ("boundary.python_s", "s"),
        ("boundary.rows_to_python", "count"),
        ("boundary.mb_to_python", "MB"),
        ("manifest.write_s", "s"),
        ("manifest.snapshot_s", "s"),
        ("manifest.read_s", "s"),
        ("manifest.blob_mb_read", "MB"),
        ("decode.plan_s", "s"),
        ("decode.job_s", "s"),
        ("decode.partitions_total", "count"),
        ("decode.partitions_read", "count"),
        ("decode.pages_read", "count"),
        ("decode.pages_skipped", "count"),
        ("aggregate.s", "s"),
        ("aggregate.partitions_metadata", "count"),
        ("aggregate.partitions_decoded", "count"),
        ("datasource.plan_s", "s"),
        ("datasource.partitions_planned", "count"),
        ("datasource.write_s", "s"),
        ("datasource.chunks", "count"),
        ("compact.plan_s", "s"),
        ("compact.job_s", "s"),
        ("compact.partitions_in", "count"),
        ("compact.partitions_out", "count"),
        ("compact.mb_rewritten", "MB"),
        ("trace.overhead_pct", "%"),
        ("trace.unaccounted_ms", "ms"),
    ]
)

# span name -> per-layer metric fed by that span's self time
SPAN_METRIC = {
    "selector": "selector.s",
    "codecs.encode": "codecs.encode_s",
    "codecs.decode": "codecs.decode_s",
    "stats": "stats.s",
    "encode.plan": "encode.plan_s",
    "encode.job": "encode.job_s",
    "encode.digest": "encode.digest_s",
    "manifest.write": "manifest.write_s",
    "manifest.snapshot": "manifest.snapshot_s",
    "manifest.read": "manifest.read_s",
    "decode.plan": "decode.plan_s",
    "decode.job": "decode.job_s",
    "aggregate": "aggregate.s",
    "datasource.plan": "datasource.plan_s",
}


def base_codec(meta: dict) -> str:
    if meta.get("codec") == "paged" and meta.get("pages"):
        return meta["pages"][0]["meta"]["codec"]
    return meta.get("codec", "?")


def sections(meta: dict) -> int:
    """Column sections a whole-column decode reads: the pages of a paged
    column, one for an unpaged column."""
    return len(meta["pages"]) if meta.get("codec") == "paged" else 1


class CodecMeter:
    """Bytes and seconds per codec, fed by the encode/decode hooks. The
    decode hook also counts the column sections and blob bytes the engine
    decoded: decode_pid_rows calls decode_column once per surviving page of
    a paged column under predicates, else once per whole column."""

    def __init__(self) -> None:
        self.enc: dict[str, list[float]] = {}
        self.dec: dict[str, list[float]] = {}
        self.sections = 0
        self.blob_bytes = 0

    def on_encode(self, args, kwargs, out, seconds) -> None:
        acc = self.enc.setdefault(args[1], [0.0, 0.0])
        acc[0] += args[0].nbytes
        acc[1] += seconds

    def on_decode(self, args, kwargs, out, seconds) -> None:
        blob, meta = args[0], args[1]
        acc = self.dec.setdefault(base_codec(meta), [0.0, 0.0])
        acc[0] += out.nbytes
        acc[1] += seconds
        self.sections += sections(meta)
        self.blob_bytes += len(blob)

    def metrics(self) -> dict[str, float]:
        out = {}
        for c in CODECS:
            for d, table in (("encode", self.enc), ("decode", self.dec)):
                nbytes, secs = table.get(c, (0.0, 0.0))
                out[f"codecs.{c}.{d}_gbps"] = nbytes / secs / 1e9 if secs else 0.0
        return out


def selector_counts(manifest_rows) -> dict[str, int]:
    """Trial and win counts read back from the lineage each manifest row
    records (the selector's own account of what it tried). A codec plan
    chosen once from a table sample is counted once per column."""
    trials = fsst_trials = fsst_wins = 0
    planned = set()
    for row in manifest_rows:
        lineage = json.loads(row["lineage_json"] or "{}")
        fsst_wins += row["codec"] == "fsst"
        if lineage.get("plan") == "table_sample":
            if row["column"] in planned:
                continue
            planned.add(row["column"])
        tried = lineage.get("trials") or {}
        trials += len(tried)
        fsst_trials += "fsst" in tried
    return {
        "selector.trials": trials,
        "selector.fsst_trials": fsst_trials,
        "selector.fsst_wins": fsst_wins,
    }


def install_kernel_hooks(tracer, meter: CodecMeter) -> None:
    """Span the in-process kernel layers below encode_partition_arrays and
    decode_pid_rows (their module-level call sites)."""
    from parzig_spark.operators import decode as dec_mod
    from parzig_spark.operators import encode as enc_mod
    from parzig_spark.plans.manifest import ManifestStore

    tracer.wrap(enc_mod, "choose_codec", "selector")
    tracer.wrap(enc_mod, "encode_column", "codecs.encode", meter.on_encode)
    tracer.wrap(enc_mod, "column_digest", "encode.digest")
    for fn in ("column_minmax", "column_bloom", "column_agg_stats", "column_distinct"):
        tracer.wrap(enc_mod, fn, "stats")
    tracer.wrap(dec_mod, "decode_column", "codecs.decode", meter.on_decode)
    tracer.wrap(ManifestStore, "write_partition", "manifest.write")
    tracer.wrap(ManifestStore, "write_snapshot", "manifest.snapshot")
    tracer.wrap(ManifestStore, "read_one_manifest", "manifest.read")
    tracer.wrap(ManifestStore, "fresh_snapshot", "manifest.read")
