"""Spark workloads: ``corpus_ingest`` and ``lineitem_pruned``.

One driver process, one closed-loop client, Spark at local[nproc]. The
benchmark calls only the engine's public operators and times them from
outside; every answer is checked outside the timed window."""

from __future__ import annotations

import json
import os
import shlex
import shutil
import signal
import subprocess
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import inputs, layers
from .common import Tracer, descendants, median, store_bytes

CORPUS_ROWS = 6_000
CORPUS_TARGET = 4 << 20
CORPUS_PASS_S = 10.0  # nominal seconds of one pass over the panel
# corpus_ids seeds of the corpus panel, the same corpora for every run seed:
# the codec plan picks delta_length for content on 0, 1 and 2 and fsst on
# 5, near the share of corpora it picks fsst on (README.md, "The corpus
# panel")
CORPUS_PANEL = (0, 1, 2, 5)
LINEITEM_ROWS = 60_000
LINEITEM_TARGET = 4 << 20
PAGE_VALUES = 8192
# traced lineitem runs: two appends of APPEND_ROWS rows each through the
# DataSource writer, sliced at APPEND_TARGET, then compacted
APPEND_ROWS = 20_000
APPEND_TARGET = 256 << 10
COMPACT_TARGET = 8 << 20


class SparkEnv:
    """The Spark session of one run, with its local dirs, temp dir and
    (traced runs) event log inside the run's work directory."""

    def __init__(self, work: str, trace: bool) -> None:
        from parzig_spark.session import get_spark
        from parzig_spark.sources.datasource import register_datasource

        base = self.base = os.path.abspath(work)
        self.events = os.path.join(base, "events") if trace else None
        tmp = os.path.join(base, "tmp")
        os.makedirs(tmp)
        conf = {
            "spark.local.dir": os.path.join(base, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(base, "warehouse"),
            # a fixed, pre-touched heap: JVM RSS does not follow GC timing
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms1g -XX:+AlwaysPreTouch",
        }
        if self.events:
            os.makedirs(self.events)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.events
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        os.environ.pop("SPARK_LOCAL_DIRS", None)
        os.environ["TMPDIR"] = tmp
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (repo, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
            + " pyspark-shell"
        )
        self.cores = len(os.sched_getaffinity(0))
        self.spark = get_spark(
            app_name="enginebench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores, driver_memory="1g",
        )
        register_datasource(self.spark)

    def group(self, phase: str) -> None:
        self.spark.sparkContext.setJobGroup(phase, phase)

    def load(self, table: pa.Table, path: str):
        """Write ``table`` with ``pq.write_table`` defaults (the Parquet
        reference of bytes_vs_parquet) and read it back as the input
        DataFrame. Returns (DataFrame, parquet bytes)."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return self.spark.read.parquet(os.path.abspath(path)), os.path.getsize(path)

    def stop(self) -> str:
        """Stop Spark, wait for the JVM to exit and reap any Python worker
        left behind. Idempotent; returns a context line."""
        if self.spark is None:
            return self._stopped
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        code = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                code = proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                code = proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        strays = descendants(os.getpid())
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in strays:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
            while strays and time.time() < deadline:
                strays = [p for p in strays if os.path.exists(f"/proc/{p}")]
                time.sleep(0.05)
            if not strays:
                break
        self._stopped = f"spark stopped: jvm exit {code}, strays left {len(strays)}"
        return self._stopped


_NO_TRACE = Tracer(False)


def _rows_to_tuples(rows) -> list[tuple]:
    return [tuple(None if v is None else (v if isinstance(v, str) else int(v)) for v in r) for r in rows]


# -- corpus_ingest -----------------------------------------------------------


def _encode_corpus(df, root: str):
    from parzig_spark.operators import encode_table

    return encode_table(
        df, root, group_cols=["repo", "lang"], salt_cols=["path"],
        size_col="content", target_bytes=CORPUS_TARGET, resume=False,
    )


def corpus_warm_up(env: SparkEnv, state: dict) -> None:
    """One untimed encode + decode round on each of the last two panel
    corpora, one per content codec the plan picks on the panel: start the
    Python workers and warm the JIT on the very paths the loop times (after
    one round the first timed iteration still ran about a fifth slower than
    the later ones)."""
    from parzig_spark.operators import decode_table

    root = os.path.join(env.base, "warm")
    for _, _, df, _ in sorted(state["corpora"], key=lambda c: c[0])[-2:]:
        _encode_corpus(df, root).collect()
        decode_table(env.spark, root).count()
        shutil.rmtree(root)


def corpus_setup(env: SparkEnv, seed: int) -> dict:
    """The panel's corpora as tables and Parquet inputs, in an order the
    seed chooses."""
    order = np.random.default_rng([seed, 11]).permutation(len(CORPUS_PANEL))
    corpora = []
    for k in (CORPUS_PANEL[j] for j in order):
        table = inputs.corpus_table(
            np.concatenate([inputs.EDGE_IDS, inputs.corpus_ids(k, CORPUS_ROWS)])
        )
        df, ref_bytes = env.load(table, os.path.join(env.base, "input", f"c{k}.parquet"))
        corpora.append((k, table, df, ref_bytes))
    return {"corpora": corpora}


def corpus_run(ctx, env: SparkEnv, state: dict) -> dict:
    """Whole passes over the panel; one pass gives one sample of each
    timing: panel bytes over the summed encode or scan time."""
    from parzig_spark.operators import decode_table
    from parzig_spark.plans.manifest import ManifestStore

    tracer, corpora = ctx.tracer, state["corpora"]
    raw = sum(table.nbytes for _, table, _, _ in corpora)
    meter = layers.CodecMeter()
    if tracer.enabled:
        install_driver_hooks(tracer)
    windows, summaries = [], []
    written = stored = 0
    selector: dict[str, float] = {}
    codecs = []
    # a fixed number of passes per run length: the JIT keeps speeding these
    # ops up for several iterations, so a speed-dependent count would move
    # the median with the host
    passes = max(1, round(ctx.seconds / CORPUS_PASS_S))
    for p in range(passes):
        ingest_s = scan_s = rescan_s = 0.0
        complete = True
        for k, table, df, _ in corpora:
            root = os.path.join(ctx.work, f"p{p}c{k}")
            ctx.probe_between_ops()
            w0 = time.time()
            try:
                with tracer.op("corpus.iteration"):
                    t0 = time.perf_counter()
                    env.group("corpus.encode")
                    with tracer.span("encode.plan"):
                        job = _encode_corpus(df, root)
                    with tracer.span("encode.job"):
                        summary = job.collect()
                    t1 = time.perf_counter()
                    env.group("corpus.scan")
                    with tracer.span("decode.plan"):
                        dec = decode_table(env.spark, root)
                    with tracer.span("decode.job"):
                        n = dec.count()
                    t2 = time.perf_counter()
                w1 = time.time()
                # a second scan of the same store: scans are short, so each
                # pass takes two samples of them
                ctx.probe_between_ops()
                t3 = time.perf_counter()
                n2 = decode_table(env.spark, root).count()
                t4 = time.perf_counter()
            except Exception as exc:  # an op that raises is a failed op
                ctx.ledger.record(False, f"corpus {k}: {exc!r}")
                shutil.rmtree(root, ignore_errors=True)
                complete = False
                continue
            windows.append((w0, w1))
            ingest_s, scan_s, rescan_s = ingest_s + t1 - t0, scan_s + t2 - t1, rescan_s + t4 - t3
            summaries.append(summary)
            env.group("corpus.verify")
            ctx.ledger.record(*check_corpus(env.spark, df, root, n, table.num_rows))
            ctx.ledger.record(n2 == n, f"second scan returned {n2} rows, first {n}")
            if p == 0:  # the first pass's stores: a pure function of the panel
                w, s = store_bytes(root)
                written, stored = written + w, stored + s
                rows = ManifestStore(root).read_manifests().to_pylist()
                codecs.append(f"{k}: " + "/".join(sorted(
                    {r["codec"] for r in rows if r["column"] == "content"})))
                if tracer.enabled:
                    for name, v in meter_store_codecs(root, meter).items():
                        selector[name] = selector.get(name, 0.0) + v / len(corpora)
            shutil.rmtree(root)
        if complete:
            ctx.record("ingest_gbps", raw / ingest_s / 1e9)
            ctx.record("scan_gbps", raw / scan_s / 1e9)
            ctx.record("scan_gbps", raw / rescan_s / 1e9)
            ctx.record("op_ms", (ingest_s + scan_s) * 1e3)
    tracer.unwrap_all()
    out = {
        "raw_bytes": raw, "store_sizes": (written, stored),
        "parquet_bytes": sum(ref for _, _, _, ref in corpora),
        "context": {
            "passes": passes, "corpora in order": " ".join(str(k) for k, *_ in corpora),
            "rows per corpus": corpora[0][1].num_rows,
            "content codec by corpus": ", ".join(codecs),
        },
    }
    if tracer.enabled:
        n_ops = max(1, len(summaries))
        rows = [r for s in summaries for r in s]
        layer = meter.metrics()
        layer["encode.task_kernel_s"] = sum(r["encode_s"] for r in rows) / n_ops
        layer["codecs.encode_s"] = layer["encode.task_kernel_s"]
        # executor-side decode time is not visible from outside Spark
        # (as digest and stats time); kernels measures it
        layer["codecs.decode_s"] = 0.0
        layer["encode.partitions"] = sum(len({r["pid"] for r in s}) for s in summaries) / n_ops
        layer["decode.partitions_total"] = layer["decode.partitions_read"] = layer["encode.partitions"]
        layer["manifest.blob_mb_read"] = (
            sum(r["enc_bytes"] for r in rows) / 1e6 / n_ops
        )
        layer.update(selector)
        out["layer"] = layer
        out["windows"] = windows
    return out


def check_corpus(spark, df, root: str, n: int, want_rows: int) -> tuple[bool, str]:
    """Row count of the scan, then a per-row sha256 round-trip check of
    every column against the input."""
    from parzig_spark.operators import decode_table, verify_roundtrip

    if n != want_rows:
        return False, f"scan returned {n} rows, want {want_rows}"
    v = verify_roundtrip(df, decode_table(spark, root), key_cols=["commit"])
    if not (v["rows"] == v["matched"] == want_rows):
        return False, f"verify_roundtrip {v}"
    return True, ""


def meter_store_codecs(root: str, meter: layers.CodecMeter) -> dict:
    """Per-codec encode and decode speed over this run's own columns: each
    blob of the store re-encoded and decoded in-process with its stored
    codec (traced runs, outside every op window)."""
    from parzig_spark.codecs import decode_column, encode_column
    from parzig_spark.plans.manifest import ManifestStore

    store = ManifestStore(root)
    rows = store.read_manifests().to_pylist()
    for r in rows:
        meta = json.loads(r["meta_json"])
        blob = store.read_blob(r["pid"], r["column"])
        t0 = time.perf_counter()
        arr = decode_column(blob, meta)
        meter.on_decode((blob, meta), {}, arr, time.perf_counter() - t0)
        codec = layers.base_codec(meta)
        if codec in layers.CODECS:
            t0 = time.perf_counter()
            encode_column(arr, codec)
            meter.on_encode((arr, codec), {}, None, time.perf_counter() - t0)
    return layers.selector_counts(rows)


def install_driver_hooks(tracer) -> None:
    """Driver-side layers inside the public calls: the table-sample codec
    plan and the manifest snapshot/read paths."""
    from parzig_spark.operators import encode as enc_mod
    from parzig_spark.plans.manifest import ManifestStore

    tracer.wrap(enc_mod, "choose_codec", "selector")
    tracer.wrap(ManifestStore, "write_snapshot", "manifest.snapshot")
    tracer.wrap(ManifestStore, "read_one_manifest", "manifest.read")


# -- lineitem_pruned ---------------------------------------------------------

# one cycle of the closed loop; the 3rd of its 5 point lookups asks for an
# order key that never occurs
CYCLE = ("range", "point", "ds_range", "point", "agg",
         "point", "range", "point", "agg_group", "point")


def lineitem_build(env: SparkEnv, table: pa.Table, root: str, delete) -> tuple[tuple, int]:
    """Paged store with distinct sets and blooms, then one delete op.
    Returns ((encode start, end), parquet reference bytes)."""
    from parzig_spark.operators import delete_rows, encode_table

    df, ref_bytes = env.load(table, root + ".parquet")
    t0 = time.perf_counter()
    encode_table(
        df, root, group_cols=["l_returnflag", "l_linestatus"], salt_cols=["l_orderkey"],
        sort_cols=["l_orderkey", "l_linenumber"], target_bytes=LINEITEM_TARGET,
        page_values=PAGE_VALUES, resume=False,
    ).collect()
    window = (t0, time.perf_counter())
    delete_rows(env.spark, root, delete)
    return window, ref_bytes


def lineitem_warm_up(env: SparkEnv, state: dict) -> None:
    """An untimed DataSource read and full scan on the first-built store:
    the first DataSource plan starts Python work that would otherwise land
    in the first timed query. Then one more untimed store build: the build
    after the cold one still ran about a fifth slower than later ones."""
    params = next(p for kind, p, _ in state["queries"] if kind == "ds_range")
    run_query(env, state["root"], "ds_range", params, _NO_TRACE, [])
    full_scan(env, state["root"])
    root = os.path.join(env.base, "warm")
    lineitem_build(env, state["table"], root, state["delete"])
    shutil.rmtree(root)
    os.remove(root + ".parquet")


def lineitem_setup(env: SparkEnv, seed: int) -> dict:
    """Build the store, commit one seeded delete, derive the live table and
    the seeded queries with their expected answers."""
    table = inputs.lineitem_table(seed, LINEITEM_ROWS)
    stores = os.path.join(os.path.relpath(env.base), "stores")
    shutil.rmtree(stores, ignore_errors=True)
    root = os.path.join(stores, "lineitem")
    keys = table.column("l_orderkey").to_numpy()
    rng = np.random.default_rng([seed, 3])
    lo = int(keys[int(rng.integers(0, len(keys) - 1))])
    delete = [("l_orderkey", ">=", lo), ("l_orderkey", "<", lo + 400)]
    (t0, t1), ref_bytes = lineitem_build(env, table, root, delete)
    dead = (keys >= lo) & (keys < lo + 400)
    live = table.filter(pa.array(~dead))
    return {
        "table": table, "root": root, "live": live, "delete": delete,
        "parquet_bytes": ref_bytes,
        "samples": [("ingest_gbps", table.nbytes / (t1 - t0) / 1e9)],
        "queries": lineitem_queries(seed, live, int(keys.max())),
    }


def lineitem_queries(seed: int, live: pa.Table, max_key: int) -> list[tuple]:
    """One cycle of seeded (kind, params, expected) queries: range and
    point decode_table reads, aggregate_store with predicates and with
    group_by, and DataSource reads with pushed filters."""
    rng = np.random.default_rng([seed, 5])
    ok = live.column("l_orderkey")
    qty = live.column("l_quantity")
    pk = live.column("l_partkey")

    def in_range(lo, hi):
        return pc.and_(pc.greater_equal(ok, lo), pc.less(ok, hi))

    def count_sum(mask):
        sel = pc.filter(qty, mask)
        return [(len(sel), pc.sum(sel).as_py() if len(sel) else None)]

    present = np.unique(ok.to_numpy())
    out = []
    n_point = 0
    for kind in CYCLE:
        lo = int(rng.integers(1, max_key - 2_000))
        if kind in ("range", "ds_range"):
            out.append((kind, (lo, lo + 2_000), count_sum(in_range(lo, lo + 2_000))))
        elif kind == "point":
            n_point += 1
            if n_point == 3:  # 32*m + 20 never occurs (inputs.orderkey_of)
                k = int(rng.integers(0, max_key // 32)) * 32 + 20
            else:
                k = int(present[int(rng.integers(0, len(present)))])
            out.append((kind, (k,), count_sum(pc.equal(ok, k))))
        elif kind == "agg":
            hi = lo + 20_000
            m = in_range(lo, hi)
            sel_q, sel_p = pc.filter(qty, m), pc.filter(pk, m)
            want = [(len(sel_q), pc.sum(sel_q).as_py(), pc.max(sel_p).as_py())]
            out.append((kind, (lo, hi), want))
        else:  # agg_group
            g = live.group_by("l_returnflag").aggregate(
                [("l_quantity", "count"), ("l_quantity", "sum")]
            )
            want = sorted(
                zip(g["l_returnflag"].to_pylist(), g["l_quantity_count"].to_pylist(),
                    g["l_quantity_sum"].to_pylist())
            )
            out.append((kind, (), want))
    return out


# kind -> (aggs, predicate (column, op) pairs filled from params, group_by)
_AGG = {
    "agg": ([("count", "*"), ("sum", "l_quantity"), ("max", "l_partkey")],
            [("l_orderkey", ">="), ("l_orderkey", "<")], None),
    "agg_group": ([("count", "*"), ("sum", "l_quantity")], [], ["l_returnflag"]),
}


def run_query(env: SparkEnv, root: str, kind: str, params: tuple, tracer, plans: list):
    """One selective query, from the call to the collected answer."""
    from pyspark.sql import functions as F

    from parzig_spark.operators import aggregate_store, decode_table

    spark = env.spark
    count_sum = [F.count(F.lit(1)), F.sum("l_quantity")]
    env.group(f"lineitem.{kind}")
    if kind in ("range", "point"):
        preds = (
            [("l_orderkey", ">=", params[0]), ("l_orderkey", "<", params[1])]
            if kind == "range"
            else [("l_orderkey", "==", params[0])]
        )
        with tracer.span("decode.plan"):
            dec = decode_table(spark, root, columns=["l_orderkey", "l_quantity"], predicates=preds)
        cond = (
            (F.col("l_orderkey") >= params[0]) & (F.col("l_orderkey") < params[1])
            if kind == "range"
            else F.col("l_orderkey") == params[0]
        )
        with tracer.span("decode.job"):
            rows = dec.filter(cond).agg(*count_sum).collect()
        plans.append(("decode", preds))
    elif kind == "ds_range":
        preds = [("l_orderkey", ">=", params[0]), ("l_orderkey", "<", params[1])]
        with tracer.span("datasource.plan"):
            df = (
                spark.read.format("parzig").option("columns", "l_orderkey,l_quantity")
                .load(root)
                .filter((F.col("l_orderkey") >= params[0]) & (F.col("l_orderkey") < params[1]))
                .agg(*count_sum)
            )
            df._jdf.queryExecution().executedPlan()
        with tracer.span("decode.job"):
            rows = df.collect()
        plans.append(("datasource", preds))
    else:
        aggs, preds, group_by = _AGG[kind]
        preds = [(c, op, params[i]) for i, (c, op) in enumerate(preds)]
        with tracer.span("aggregate"):
            rows = aggregate_store(
                spark, root, aggs, predicates=preds or None, group_by=group_by
            ).collect()
        plans.append(("aggregate", (aggs, preds, group_by)))
    out = _rows_to_tuples(rows)
    return sorted(out, key=lambda r: tuple("" if v is None else v for v in r)) if kind == "agg_group" else out


def check_answer(kind: str, got, want) -> tuple[bool, str]:
    if kind in ("range", "point", "ds_range") and got and got[0][0] == 0:
        got = [(0, None)]  # SUM over no rows is NULL in SQL
    if got != want:
        return False, f"{kind}: got {got}, want {want}"
    return True, ""


def full_scan(env: SparkEnv, root: str) -> int:
    from parzig_spark.operators import decode_table

    env.group("lineitem.scan")
    return decode_table(env.spark, root).count()


def lineitem_run(ctx, env: SparkEnv, state: dict) -> dict:
    """Whole cycles of the query list until the timed budget is spent; a
    checked full scan after every 2 queries."""
    tracer, root, queries = ctx.tracer, state["root"], state["queries"]
    table, live = state["table"], state["live"]
    raw = table.nbytes
    if tracer.enabled:
        install_driver_hooks(tracer)
    windows, plans, by_kind, scan_ms = [], [], {}, []
    i = 0
    while ctx.timed < ctx.seconds or i % len(queries):
        kind, params, want = queries[i % len(queries)]
        ctx.probe_between_ops()
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            with tracer.op(f"lineitem.{kind}"):
                got = run_query(env, root, kind, params, tracer, plans)
                t1 = time.perf_counter()
        except Exception as exc:  # an op that raises is a failed op
            ctx.timed += time.perf_counter() - t0
            ctx.ledger.record(False, f"{kind}{params}: {exc!r}")
        else:
            ctx.timed += t1 - t0
            windows.append((w0, time.time()))
            ctx.record("op_ms", (t1 - t0) * 1e3)
            by_kind.setdefault(kind, []).append((t1 - t0) * 1e3)
            ctx.ledger.record(*check_answer(kind, got, want))
        i += 1
        if i % 2 == 0:
            ctx.probe_between_ops()
            t0 = time.perf_counter()
            try:
                n = full_scan(env, root)
            except Exception as exc:  # a scan that raises is a failed op
                ctx.timed += time.perf_counter() - t0
                ctx.ledger.record(False, f"full scan: {exc!r}")
                continue
            t1 = time.perf_counter()
            ctx.timed += t1 - t0
            ctx.record("scan_gbps", raw / (t1 - t0) / 1e9)
            scan_ms.append((t1 - t0) * 1e3)
            ctx.ledger.record(n == live.num_rows, f"full scan returned {n}, want {live.num_rows}")
    tracer.unwrap_all()
    out = {
        "raw_bytes": raw,
        "store_sizes": store_bytes(root), "parquet_bytes": state["parquet_bytes"],
        "context": {
            "queries": i,
            "live_rows": live.num_rows,
            "raw median ms by kind": ", ".join(
                f"{k} {median(v):.0f}" for k, v in sorted(by_kind.items())
            ) + f", full scan {median(scan_ms):.0f}",
        },
    }
    if tracer.enabled:
        out["layer"] = lineitem_plan_layers(env.spark, root, plans, max(1, len(windows)))
        out["layer"].update(append_compact(env, table, ctx.ledger))
        out["windows"] = windows
    return out


def lineitem_plan_layers(spark, root: str, plans: list, n_ops: int) -> dict:
    """Partition, page and blob counts of the traced queries, replayed after
    the loop, outside every op window, with the engine's own code: the
    planner each query used (prune_manifests for decode_table,
    _plan_survivors for the DataSource, aggregate_store with
    return_plan=True), then the worker kernel decode_pid_rows in-process
    over the surviving partitions with decode_column metered."""
    from parzig_spark.operators import aggregate_store
    from parzig_spark.operators import decode as dec_mod
    from parzig_spark.plans.manifest import ManifestStore
    from parzig_spark.sources.datasource import _plan_survivors

    from .kernels import casts_of

    store = ManifestStore(root)
    snap_path = store.fresh_snapshot()
    snap = pq.read_table(snap_path)
    by_pid: dict[int, dict[str, dict]] = {}
    for r in snap.to_pylist():
        by_pid.setdefault(r["pid"], {})[r["column"]] = r
    delete_ops = store.committed_delete_ops()
    cols = ["l_orderkey", "l_quantity"]
    casts = casts_of([next(iter(by_pid.values()))[c] for c in cols])
    acc = dict.fromkeys(
        ("decode.partitions_total", "decode.partitions_read", "decode.pages_read",
         "decode.pages_skipped", "datasource.partitions_planned",
         "aggregate.partitions_metadata", "aggregate.partitions_decoded"),
        0.0,
    )
    meter = layers.CodecMeter()
    hook = Tracer(True)  # no op is open, so it records no span
    hook.wrap(dec_mod, "decode_column", "codecs.decode", meter.on_decode)
    try:
        for kind, info in plans:
            if kind == "aggregate":
                aggs, preds, group_by = info
                _, plan = aggregate_store(
                    spark, root, aggs, predicates=preds or None, group_by=group_by,
                    return_plan=True,
                )
                acc["aggregate.partitions_metadata"] += plan["pids_metadata"]
                acc["aggregate.partitions_decoded"] += plan["pids_decoded"]
                continue
            if kind == "decode":
                kept = dec_mod.prune_manifests(spark.read.parquet(snap_path), info)
                survivors = sorted(r.pid for r in kept.select("pid").distinct().collect())
            else:
                survivors = _plan_survivors(snap, info)
                acc["datasource.partitions_planned"] += len(survivors)
            acc["decode.partitions_total"] += len(by_pid)
            acc["decode.partitions_read"] += len(survivors)
            before = meter.sections
            rows = {pid: {c: by_pid[pid][c] for c in cols} for pid in survivors}
            for _ in dec_mod.decode_pid_rows(
                root, rows, cols, casts, predicates=info, delete_ops=delete_ops
            ):
                pass
            read = meter.sections - before
            acc["decode.pages_read"] += read
            acc["decode.pages_skipped"] += sum(
                layers.sections(json.loads(r["meta_json"]))
                for by_col in rows.values() for r in by_col.values()
            ) - read
    finally:
        hook.unwrap_all()
    out = {k: v / n_ops for k, v in acc.items()}
    out["manifest.blob_mb_read"] = meter.blob_bytes / 1e6 / n_ops
    return out


# read-path figures corpus_ingest takes from corpus_read_path; its own
# loop's figures (full scans: every partition, no pruning) give the rest
READ_PATH_METRICS = (
    "decode.partitions_total", "decode.partitions_read", "decode.pages_read",
    "decode.pages_skipped", "aggregate.s", "aggregate.partitions_metadata",
    "aggregate.partitions_decoded", "datasource.plan_s", "datasource.partitions_planned",
    "datasource.write_s", "datasource.chunks", "compact.plan_s", "compact.job_s",
    "compact.partitions_in", "compact.partitions_out", "compact.mb_rewritten",
)


def corpus_read_path(env: SparkEnv, seed: int, ledger) -> tuple[dict, str]:
    """The read-path layers of traced corpus_ingest runs, after both loops
    and outside every op window: the seed's lineitem store is built, one
    query of each kind in CYCLE runs traced and checked, the queries'
    plans are replayed (lineitem_plan_layers), then one append-and-compact
    cycle. Returns the READ_PATH_METRICS, per query and per cycle, and a
    context line with the phase's times."""
    t0 = time.perf_counter()
    state = lineitem_setup(env, seed)
    root = state["root"]
    t1 = time.perf_counter()
    tracer = Tracer(True)
    install_driver_hooks(tracer)
    plans, done = [], set()
    for kind, params, want in state["queries"]:
        if kind in done:
            continue
        done.add(kind)
        try:
            with tracer.op(f"lineitem.{kind}"):
                got = run_query(env, root, kind, params, tracer, plans)
        except Exception as exc:  # a query that raises is a failed op
            ledger.record(False, f"{kind}{params}: {exc!r}")
            continue
        ledger.record(*check_answer(kind, got, want))
    tracer.unwrap_all()
    t2 = time.perf_counter()
    by_name, _ = tracer.self_times()
    n_ops = max(1, tracer.n_ops)
    out = lineitem_plan_layers(env.spark, root, plans, n_ops)
    t3 = time.perf_counter()
    out["aggregate.s"] = sum(by_name.get("aggregate", ())) / n_ops
    out["datasource.plan_s"] = sum(by_name.get("datasource.plan", ())) / n_ops
    out.update(append_compact(env, state["table"], ledger))
    shutil.rmtree(os.path.dirname(root))
    line = (
        f"read-path phase: store {t1 - t0:.2f} s, queries {t2 - t1:.2f} s, replay "
        f"{t3 - t2:.2f} s, append + compact {time.perf_counter() - t3:.2f} s"
    )
    return {k: out[k] for k in READ_PATH_METRICS}, line


def append_compact(env: SparkEnv, table: pa.Table, ledger) -> dict:
    """One append-and-compact cycle, in traced runs only, after the loop and
    outside every op window: two seeded appends through the parzig
    DataSource writer (ParzigWriter) with a small target_bytes leave many
    small partitions, which compact_store bin-packs; a full decode of the
    compacted store is checked row by row against the input. Returns the
    cycle's datasource.write_* and compact.* figures."""
    from parzig_spark.operators import compact_store, decode_table, verify_roundtrip
    from parzig_spark.plans.manifest import ManifestStore

    work = os.path.join(env.base, "append")
    src, dst = os.path.join(work, "appended"), os.path.join(work, "compacted")
    paths, write_s = [], 0.0
    for i in range(2):
        part = table.slice(i * APPEND_ROWS, APPEND_ROWS)
        df, _ = env.load(part, os.path.join(work, f"in{i}.parquet"))
        paths.append(os.path.join(work, f"in{i}.parquet"))
        env.group("lineitem.append")
        t0 = time.perf_counter()
        (df.repartition(env.cores).write.format("parzig")
         .option("target_bytes", str(APPEND_TARGET)).mode("append").save(src))
        write_s += time.perf_counter() - t0
    chunks = len(ManifestStore(src).committed_pids())
    env.group("lineitem.compact")
    t0 = time.perf_counter()
    job = compact_store(env.spark, src, dst, target_bytes=COMPACT_TARGET, resume=False)
    t1 = time.perf_counter()
    summary = job.collect()
    t2 = time.perf_counter()
    env.group("lineitem.verify")
    v = verify_roundtrip(
        env.spark.read.parquet(*paths), decode_table(env.spark, dst),
        key_cols=["l_orderkey", "l_linenumber"],
    )
    ledger.record(
        v["rows"] == v["matched"] == 2 * APPEND_ROWS, f"append + compact: verify_roundtrip {v}"
    )
    out = {
        "datasource.write_s": write_s,
        "datasource.chunks": chunks,
        "compact.plan_s": t1 - t0,
        "compact.job_s": t2 - t1,
        "compact.partitions_in": chunks,
        "compact.partitions_out": len(ManifestStore(dst).committed_pids()),
        "compact.mb_rewritten": sum(r["raw_bytes"] for r in summary) / 1e6,
    }
    shutil.rmtree(work)
    return out
