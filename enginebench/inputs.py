"""Seeded inputs. Every table here is a pure function of its arguments, so
the same ``--seed`` always yields byte-identical inputs."""

from __future__ import annotations

import datetime

import numpy as np
import pyarrow as pa

from parzig_spark.sources.source_code import _gen_batch

# source-code rows with fixed edge cases: empty, one byte, exactly 64 KiB,
# a multi-MB outlier and a UTF-8/NUL/CRLF row (see sources/source_code.py)
EDGE_IDS = np.arange(5, dtype=np.int64)


def corpus_ids(seed: int, n_rows: int, block: int = 0) -> np.ndarray:
    start = 1_000 + ((seed * 1_000_003 + block * 7_919) % 9_973) * 10_000
    return np.arange(start, start + n_rows, dtype=np.int64)


def corpus_table(ids: np.ndarray) -> pa.Table:
    """The BASELINE source-code schema; ~40 % of rows in one giant repo."""
    return pa.Table.from_pandas(_gen_batch(ids, 0.4), preserve_index=False)


_WORDS = np.array(
    "carefully final deposits sleep quickly among the furiously express "
    "packages regular ideas haggle blithely ironic accounts unusual "
    "requests boost pending theodolites bold pinto beans wake".split(),
    dtype=object,
)
_SHIPMODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"], dtype=object)
_EPOCH_1992 = (datetime.date(1992, 1, 2) - datetime.date(1970, 1, 1)).days


def orderkey_of(order_index: np.ndarray) -> np.ndarray:
    """TPC-H-style sparse order keys: 8 used keys in every block of 32, so
    keys 32*m + 9 .. 32*m + 32 never occur."""
    return (order_index // 8) * 32 + (order_index % 8) + 1


def lineitem_table(seed: int, n_rows: int) -> pa.Table:
    """Lineitem-shaped rows sorted by (l_orderkey, l_linenumber)."""
    rng = np.random.default_rng([seed, 7])
    lines = rng.integers(1, 8, size=n_rows // 3 + 8)
    order_idx = np.repeat(np.arange(len(lines), dtype=np.int64), lines)[:n_rows]
    starts = np.concatenate([[0], np.cumsum(lines)[:-1]])
    linenumber = (np.arange(n_rows) - starts[order_idx] + 1).astype(np.int32)
    qty = rng.integers(1, 51, size=n_rows, dtype=np.int64)
    price_cents = qty * rng.integers(90_000, 200_000, size=n_rows) // 100
    discount = rng.integers(0, 11, size=n_rows)
    ship = _EPOCH_1992 + rng.integers(0, 2_526, size=n_rows)
    flag = np.where(ship < _EPOCH_1992 + 1_260, np.where(qty % 2 == 0, "A", "R"), "N")
    status = np.where(ship < _EPOCH_1992 + 1_260, "F", "O")
    n_words = rng.integers(2, 7, size=n_rows)
    word_idx = rng.integers(0, len(_WORDS), size=int(n_words.sum()))
    cut = np.cumsum(n_words)[:-1]
    comments = [" ".join(ws) for ws in np.split(_WORDS[word_idx], cut)]
    return pa.table(
        {
            "l_orderkey": pa.array(orderkey_of(order_idx)),
            "l_linenumber": pa.array(linenumber),
            "l_partkey": pa.array(rng.integers(1, 20_001, size=n_rows, dtype=np.int64)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": _cents_to_decimal(price_cents),
            "l_discount": _cents_to_decimal(discount),
            "l_shipdate": pa.array(ship.astype("int32"), pa.int32()).cast(pa.date32()),
            "l_returnflag": pa.array(flag.astype(object), pa.string()),
            "l_linestatus": pa.array(status.astype(object), pa.string()),
            "l_shipmode": pa.array(_SHIPMODES[rng.integers(0, 7, size=n_rows)], pa.string()),
            "l_comment": pa.array(comments, pa.string()),
        }
    )


def _cents_to_decimal(cents: np.ndarray) -> pa.Array:
    """Exact decimal(15, 2) from integer cents: the cents are the unscaled
    128-bit lanes (low word, sign-extended high word)."""
    lanes = np.empty((len(cents), 2), dtype="<i8")
    lanes[:, 0] = cents
    lanes[:, 1] = np.where(cents < 0, -1, 0)
    return pa.Array.from_buffers(
        pa.decimal128(15, 2), len(cents), [None, pa.py_buffer(lanes.tobytes())]
    )


# -- kernels partitions ------------------------------------------------------


def kernel_partitions(seed: int) -> list[tuple[str, pa.Table, str, tuple]]:
    """(kind, table, key column, (lo, hi)) for the no-Spark loop: corpus
    strings, lineitem numerics + decimals, a nullable pair and a nested list
    column. Each table is sorted by its key so page stats are selective;
    (lo, hi) bounds a ~5 % key range for the page-predicate decode."""
    rng = np.random.default_rng([seed, 11])
    out = []
    for rep in range(2):
        corpus = corpus_table(corpus_ids(seed, 1_500, block=rep + 1))
        corpus = corpus.sort_by([("path", "ascending"), ("commit", "ascending")])
        paths = corpus.column("path")
        i = int(rng.integers(0, corpus.num_rows - 80))
        out.append(("corpus", corpus, "path", (paths[i].as_py(), paths[i + 75].as_py())))

        li = lineitem_table(seed * 4 + rep, 60_000)
        keys = li.column("l_orderkey").to_numpy()
        lo = int(keys[int(rng.integers(0, len(keys) - 3_000))])
        out.append(("lineitem", li, "l_orderkey", (lo, lo + 2_400)))

        n = 80_000
        key = np.arange(n, dtype=np.int64) * 3 + int(rng.integers(0, 1_000))
        vals = rng.integers(-(1 << 40), 1 << 40, size=n)
        null = rng.random(n) < 0.2
        words = _WORDS[rng.integers(0, len(_WORDS), size=n)]
        snull = rng.random(n) < 0.3
        nullable = pa.table(
            {
                "k": pa.array(key),
                "v": pa.array(vals, mask=null),
                "s": pa.array(words, pa.string(), mask=snull),
            }
        )
        lo = int(key[int(rng.integers(0, n - 5_000))])
        out.append(("nullable", nullable, "k", (lo, lo + 12_000)))

        n = 40_000
        lens = rng.integers(0, 9, size=n)
        offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
        flat = rng.integers(0, 1_000, size=int(offsets[-1]), dtype=np.int64)
        key = np.arange(n, dtype=np.int64)
        nested = pa.table(
            {
                "k": pa.array(key),
                "tags": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
            }
        )
        lo = int(rng.integers(0, n - 2_500))
        out.append(("nested", nested, "k", (lo, lo + 2_000)))
    return out
