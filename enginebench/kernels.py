"""``kernels``: the engine's per-partition kernels with no Spark — one
process, one thread. Per seeded partition: encode_partition_arrays (the
selector runs per partition, as in the DataSource writer), write_partition,
a full decode_pid_rows and a page-predicate decode_pid_rows, each checked
against the input."""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import inputs, layers
from .common import store_bytes

PAGE_VALUES = 8192


def setup(seed: int) -> dict:
    return {"parts": inputs.kernel_partitions(seed)}


def decode_all(root: str, pid: int, rows: list[dict], predicates=None) -> pa.Table:
    from parzig_spark.operators.decode import decode_pid_rows

    by_col = {r["column"]: r for r in rows}
    cols = [r["column"] for r in rows]
    casts = casts_of(rows)
    batches = list(
        decode_pid_rows(root, {pid: by_col}, cols, casts, predicates=predicates)
    )
    return pa.Table.from_batches(batches) if batches else None


def casts_of(rows: list[dict]) -> dict:
    """column -> Arrow type to cast the decoded column to, where the stored
    type differs from the logical one (as decode_table computes it)."""
    from parzig_spark.operators.decode import _arrow_natural_type, _arrow_target_type

    out = {}
    for r in rows:
        meta = json.loads(r["meta_json"])
        target = _arrow_target_type(meta)
        if target != _arrow_natural_type(meta):
            out[r["column"]] = target
    return out


def check_partition(table, key, lo, hi, rows, full, part) -> tuple[bool, str]:
    """Full decode equals the input; the manifest digests equal the input's
    column digests; the predicate read, row-filtered, equals the input's
    rows in [lo, hi)."""
    from parzig_spark.operators.encode import column_digest

    if full is None or not full.equals(table):
        return False, "full decode differs from input"
    for r in rows:
        col = table.column(r["column"])
        if r["sha256"] != column_digest(col.combine_chunks()):
            return False, f"manifest digest differs on {r['column']}"
    want = table.filter(
        pc.and_(pc.greater_equal(table[key], lo), pc.less(table[key], hi))
    )
    got = (
        part.filter(pc.and_(pc.greater_equal(part[key], lo), pc.less(part[key], hi)))
        if part is not None
        else table.slice(0, 0)
    )
    if not got.equals(want):
        return False, "predicate read differs from filtered input"
    return True, ""


def run(ctx, state: dict) -> dict:
    from parzig_spark.operators.encode import encode_partition_arrays
    from parzig_spark.plans.manifest import ManifestStore

    tracer, ledger, parts = ctx.tracer, ctx.ledger, state["parts"]
    meter = layers.CodecMeter()
    if tracer.enabled:
        layers.install_kernel_hooks(tracer, meter)
    raw = sum(t.nbytes for _, t, _, _ in parts)
    ref_dir = os.path.join(ctx.work, "parquet_ref")
    os.makedirs(ref_dir)
    ref_bytes = 0
    for i, (_, table, _, _) in enumerate(parts):
        path = os.path.join(ref_dir, f"{i}.parquet")
        pq.write_table(table, path)
        ref_bytes += os.path.getsize(path)

    all_rows, pages = [], [0, 0]  # sections decoded, sections in the read columns
    sizes = None
    n_pass = 0
    while ctx.timed < ctx.seconds:
        root = os.path.join(ctx.work, f"pass{n_pass}")
        t_in = t_scan = t_op = 0.0
        pass_t0 = time.perf_counter()
        for pid, (kind, table, key, (lo, hi)) in enumerate(parts):
            ctx.probe_between_ops()
            proot = os.path.join(root, str(pid))
            store = ManifestStore(proot)
            store.ensure_config({"columns": table.column_names, "writer": "enginebench"})
            try:
                with tracer.op("kernels.partition"):  # traced per partition
                    t0 = time.perf_counter()
                    with tracer.span("encode"):
                        rows, blobs = encode_partition_arrays(
                            proot, pid, table, table.column_names, page_values=PAGE_VALUES
                        )
                    store.write_partition(pid, rows, blobs)
                    t1 = time.perf_counter()
                    decoded = meter.sections
                    with tracer.span("decode.full"):
                        full = decode_all(proot, pid, rows)
                    t2 = time.perf_counter()
                    with tracer.span("decode.pred"):
                        part = decode_all(
                            proot, pid, rows, [(key, ">=", lo), (key, "<", hi)]
                        )
                    t3 = time.perf_counter()
            except Exception as exc:  # an op that raises is a failed op
                ledger.record(False, f"{kind}: {exc!r}")
                continue
            t_in += t1 - t0
            t_scan += t2 - t1
            t_op += t3 - t0
            all_rows.extend(rows)
            if tracer.enabled:  # the meter counts what the two decodes read
                pages[0] += meter.sections - decoded
                pages[1] += 2 * sum(layers.sections(json.loads(r["meta_json"])) for r in rows)
            ledger.record(*check_partition(table, key, lo, hi, rows, full, part))
        if n_pass == 0:
            # size metrics from the first pass only: a pure function of the seed
            sizes = store_bytes(root)
        shutil.rmtree(root)
        # a pass whose ops all raised still spends the budget, so a broken
        # engine ends the loop instead of spinning
        ctx.timed += t_op or time.perf_counter() - pass_t0
        if t_in and t_scan:
            ctx.record("ingest_gbps", raw / t_in / 1e9)
            ctx.record("scan_gbps", raw / t_scan / 1e9)
            ctx.record("op_ms", t_op * 1e3)
        n_pass += 1

    tracer.unwrap_all()
    out = {
        "raw_bytes": raw,
        "store_sizes": sizes,
        "parquet_bytes": ref_bytes,
        "context": {"passes": n_pass, "partitions_per_pass": len(parts)},
    }
    if tracer.enabled:
        n_ops = max(1, tracer.n_ops)
        layer = meter.metrics()
        layer.update({k: v / n_ops for k, v in layers.selector_counts(all_rows).items()})
        layer["encode.partitions"] = 1.0
        layer["decode.partitions_total"] = 1.0
        layer["decode.partitions_read"] = 1.0
        layer["encode.task_kernel_s"] = sum(r["encode_s"] for r in all_rows) / n_ops
        layer["decode.pages_read"] = pages[0] / n_ops
        layer["decode.pages_skipped"] = (pages[1] - pages[0]) / n_ops
        layer["manifest.blob_mb_read"] = meter.blob_bytes / 1e6 / n_ops
        out["layer"] = layer
    return out
