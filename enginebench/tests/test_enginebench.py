"""Self-tests of the benchmark itself (not of the engine):

    python3 -m pytest enginebench/tests -q

- size metrics are a pure function of the seed, whatever the run length;
- every output check fails on a tampered copy, and the failure is counted;
- a run leaves no descendant process and no work directory behind;
- the printed result follows the output contract;
- traced self times add up to each op's wall time.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.compute  # noqa: F401

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, REPO)

from enginebench import kernels, layers, spark_workloads  # noqa: E402
from enginebench.common import Ledger, Tracer, session_members  # noqa: E402
from enginebench.layers import PER_LAYER  # noqa: E402
from enginebench.run import END_TO_END  # noqa: E402


def _run(*args, cwd=REPO, **kw):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "enginebench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600, **kw,
    )
    return proc


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_size_metrics_are_a_pure_function_of_the_seed():
    """Regression test for size metrics that moved between runs of the same
    code: the same seed at two run lengths gives identical size metrics."""
    short = _result(_run("--workload", "kernels", "--seed", "3", "--seconds", "0.5", "--trace", "0"))
    long = _result(_run("--workload", "kernels", "--seed", "3", "--seconds", "4", "--trace", "0"))
    for name in ("compression_ratio", "bytes_vs_parquet"):
        assert short["metrics"][name]["value"] == long["metrics"][name]["value"], name
    other = _result(_run("--workload", "kernels", "--seed", "4", "--seconds", "0.5", "--trace", "0"))
    assert other["metrics"]["compression_ratio"]["value"] != short["metrics"]["compression_ratio"]["value"]


def test_output_contract_and_per_layer_names():
    plain = _result(_run("--workload", "kernels", "--seed", "1", "--seconds", "0.5", "--trace", "0"))
    assert set(plain) == {"correct", "attempted", "failed", "metrics"}
    assert plain["correct"] and plain["failed"] == 0 and plain["attempted"] >= 1
    assert {k: v["unit"] for k, v in plain["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in plain["metrics"].values())
    traced = _result(_run("--workload", "kernels", "--seed", "1", "--seconds", "0.5", "--trace", "1"))
    assert {k: v["unit"] for k, v in traced["metrics"].items()} == dict(PER_LAYER)
    assert traced["metrics"]["trace.unaccounted_ms"]["value"] < 1e-3
    # traced corpus_ingest runs report these from their read-path phase
    assert set(spark_workloads.READ_PATH_METRICS) <= dict(PER_LAYER).keys()


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark's own
    files, the command fails without printing a result."""
    shutil.copytree(BENCH, tmp_path / "enginebench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    proc = _run("--workload", "kernels", "--seed", "1", "--seconds", "1", "--trace", "0",
                cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


# -- the checks are not vacuous ----------------------------------------------


def _one_partition(tmp_path):
    from parzig_spark.operators.encode import encode_partition_arrays
    from parzig_spark.plans.manifest import ManifestStore

    kind, table, key, (lo, hi) = kernels.setup(1)["parts"][1]  # a lineitem partition
    root = str(tmp_path / "store")
    store = ManifestStore(root)
    rows, blobs = encode_partition_arrays(root, 0, table, table.column_names,
                                          page_values=kernels.PAGE_VALUES)
    store.write_partition(0, rows, blobs)
    return table, key, lo, hi, root, rows


def _checked(ledger, table, key, lo, hi, root, rows):
    """One kernels op's decode + check, counted like the loop counts it."""
    try:
        full = kernels.decode_all(root, 0, rows)
        part = kernels.decode_all(root, 0, rows, [(key, ">=", lo), (key, "<", hi)])
    except Exception as exc:  # the loop counts a raising op as failed
        return ledger.record(False, repr(exc))
    return ledger.record(*kernels.check_partition(table, key, lo, hi, rows, full, part))


def test_checks_pass_on_an_untouched_store(tmp_path):
    ledger = Ledger()
    assert _checked(ledger, *_one_partition(tmp_path))
    assert (ledger.attempted, ledger.failed) == (1, 0)


def test_page_counts_come_from_the_engine_decode(tmp_path):
    """The decode hook counts the sections decode_pid_rows decodes: every
    one on a full read, only some under a selective page predicate."""
    from parzig_spark.operators import decode as dec_mod

    table, key, lo, hi, root, rows = _one_partition(tmp_path)
    total = sum(layers.sections(json.loads(r["meta_json"])) for r in rows)
    meter = layers.CodecMeter()
    hook = Tracer(True)
    hook.wrap(dec_mod, "decode_column", "codecs.decode", meter.on_decode)
    try:
        kernels.decode_all(root, 0, rows)
        full, full_bytes = meter.sections, meter.blob_bytes
        kernels.decode_all(root, 0, rows, [(key, ">=", lo), (key, "<", hi)])
    finally:
        hook.unwrap_all()
    assert full == total and full_bytes == sum(r["enc_bytes"] for r in rows)
    assert 0 < meter.sections - full < total
    assert 0 < meter.blob_bytes - full_bytes < full_bytes


def test_flipped_blob_byte_is_a_failed_op(tmp_path):
    table, key, lo, hi, root, rows = _one_partition(tmp_path)
    copy = str(tmp_path / "tampered")
    shutil.copytree(root, copy)
    blob = os.path.join(copy, "blobs", "0", "l_partkey.bin")
    data = bytearray(open(blob, "rb").read())
    data[len(data) // 2] ^= 0x40
    open(blob, "wb").write(bytes(data))
    ledger = Ledger()
    assert not _checked(ledger, table, key, lo, hi, copy, rows)
    assert (ledger.attempted, ledger.failed) == (1, 1)


def test_dropped_row_is_a_failed_op(tmp_path):
    from parzig_spark.operators.encode import encode_partition_arrays
    from parzig_spark.plans.manifest import ManifestStore

    table, key, lo, hi, _, _ = _one_partition(tmp_path)
    # the tampered copy holds every row but one (a row inside [lo, hi))
    idx = next(i for i, k in enumerate(table.column(key).to_pylist()) if lo <= k < hi)
    short = pa.concat_tables([table.slice(0, idx), table.slice(idx + 1)])
    copy = str(tmp_path / "dropped")
    rows, blobs = encode_partition_arrays(copy, 0, short, short.column_names,
                                          page_values=kernels.PAGE_VALUES)
    ManifestStore(copy).write_partition(0, rows, blobs)
    ledger = Ledger()
    assert not _checked(ledger, table, key, lo, hi, copy, rows)
    assert (ledger.attempted, ledger.failed) == (1, 1)


def test_wrong_expected_answer_is_a_failed_op():
    """Answers of the true table checked against answers computed over a
    table missing one row: every query whose answer differs fails."""
    from enginebench import inputs

    live = inputs.lineitem_table(2, 20_000)
    max_key = int(pa.compute.max(live["l_orderkey"]).as_py())
    right = spark_workloads.lineitem_queries(2, live, max_key)
    wrong = spark_workloads.lineitem_queries(2, live.slice(1), max_key)
    ledger = Ledger()
    differing = 0
    for (kind, _, got), (_, _, want) in zip(right, wrong):
        differing += got != want
        ledger.record(*spark_workloads.check_answer(kind, got, want))
    assert differing >= 1  # agg_group counts every live row
    assert (ledger.attempted, ledger.failed) == (len(right), differing)


def test_corpus_check_catches_a_dropped_row(tmp_path):
    """The Spark-side check (row count + per-row sha256 verify_roundtrip)
    fails on a store copy with one row deleted."""
    import numpy as np

    from enginebench import inputs
    from parzig_spark.operators import decode_table, delete_rows, encode_table

    work = tmp_path / "spark"
    env = spark_workloads.SparkEnv(str(work), trace=False)
    try:
        table = inputs.corpus_table(np.concatenate([inputs.EDGE_IDS, inputs.corpus_ids(1, 300)]))
        df, _ = env.load(table, str(work / "input.parquet"))
        root = str(work / "store")
        encode_table(df, root, group_cols=["repo", "lang"], salt_cols=["path"],
                     size_col="content", target_bytes=1 << 20, resume=False).collect()
        ledger = Ledger()
        n = decode_table(env.spark, root).count()
        ledger.record(*spark_workloads.check_corpus(env.spark, df, root, n, table.num_rows))
        copy = str(work / "dropped")
        shutil.copytree(root, copy)
        commit = table.column("commit")[7].as_py()
        delete_rows(env.spark, copy, [("commit", "==", commit)])
        n = decode_table(env.spark, copy).count()
        ledger.record(*spark_workloads.check_corpus(env.spark, df, copy, n, table.num_rows))
        assert (ledger.attempted, ledger.failed) == (2, 1)
    finally:
        env.stop()


# -- clean exit ----------------------------------------------------------------


def test_no_descendant_survives_a_spark_run():
    proc = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "enginebench", "run.py"), "--workload",
         "corpus_ingest", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        start_new_session=True,
    )
    out, _ = proc.communicate(timeout=300)
    assert proc.returncode == 0
    assert json.loads(out.strip().splitlines()[-1])["failed"] == 0
    deadline = time.time() + 5
    while session_members(proc.pid) and time.time() < deadline:
        time.sleep(0.1)
    assert session_members(proc.pid) == []
    assert not os.path.exists(os.path.join(REPO, ".enginebench_work", "corpus_ingest"))


# -- tracing -------------------------------------------------------------------


def test_self_times_add_up_to_op_wall():
    tracer = Tracer(True)
    for _ in range(3):
        with tracer.op("op"):
            time.sleep(0.002)
            with tracer.span("a"):
                time.sleep(0.003)
                with tracer.span("b"):
                    time.sleep(0.002)
            with tracer.span("b"):
                time.sleep(0.001)
    with tracer.span("outside-any-op"):
        pass
    by_name, residual = tracer.self_times()
    assert residual < 1e-9
    assert set(by_name) == {"op", "a", "b"}
    assert all(len(v) == 3 for v in by_name.values())
    assert min(by_name["b"]) >= 0.003
