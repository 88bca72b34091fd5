"""Seeded input generation for the export benchmark.

Every table is a pure function of (seed, sizes): the same seed writes the
same rows. The JVM side sees only the files written here.

Layout under <data>:
  lineitem.parquet      whole-table export source, ONE row group
  awkward.parquet/      awkward-value table, one file per core
  documents.parquet,
  embeddings.parquet    corpus for the dedup query slice
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data row column table key value part line order customer "
         "join agg group sort hash scan filter merge window stream batch "
         "query vector spark fast slow big small").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EPOCH_1995_US = 788918400 * 1_000_000
DAY_US = 86400 * 1_000_000


def _write(table, path):
    """One file, one row group."""
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def lineitem(rng, n):
    orderkey = np.sort(rng.integers(0, max(1, n // 4), n))
    return pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(90068, 10499992, n) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(EPOCH_1995_US + rng.integers(0, 2500, n) * DAY_US,
                               pa.timestamp("us")),
    })


def documents(rng, n):
    """Random-vocabulary documents; every 20th is a near-duplicate of a
    random earlier document (its text plus the token ``dup``), as in the
    fixtures. A fixed share keeps the result sizes steady across seeds."""
    texts = []
    for i in range(n):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0, 0.01, (labels, dim))
    lab = rng.integers(0, labels, n)
    x = centers[lab] + rng.normal(0, 1.0 / np.sqrt(dim), (n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32()),
    })


def awkward_floats(rng, n):
    """Doubles whose magnitudes span 1e-30..1e30: half in [1e-3, 1e7)
    (the plain rendering branch), half outside it (the BigDecimal
    branch). Mantissas are full-precision random, signs random."""
    inside = rng.random(n) < 0.5
    lo = rng.uniform(-3.0, 7.0, n)
    hi = rng.uniform(7.0, 30.0, n)
    out = np.where(rng.random(n) < 0.5, rng.uniform(-30.0, -3.0, n), hi)
    exp10 = np.where(inside, lo, out)
    sign = np.where(rng.random(n) < 0.5, -1.0, 1.0)
    return sign * np.power(10.0, exp10)


AWK_CHARS = list('abcxyz019 <>&",\r\n\t\'') + ["é", "ß", "中", "文", "€", "\u00a0", "😀"]


def awkward_strings(rng, n):
    """A pool of `n` distinct-ish strings drawn from CSV/XML/JSON/HTML
    specials, CR/LF, tabs and non-ASCII; a fifth start with spaces."""
    out = []
    for _ in range(n):
        s = "".join(rng.choice(AWK_CHARS, int(rng.integers(0, 24))))
        out.append("  " + s if rng.random() < 0.2 else s)
    return out


def awkward(rng, n):
    def nullable(values, typ=None):
        return pa.array(values, type=typ, mask=rng.random(n) < 0.1)

    pool = np.array(awkward_strings(rng, 4096), dtype=object)
    # a NULL list or map is a null offset over an empty slot
    arr_null = rng.random(n) < 0.1
    arr_len = np.where(arr_null, 0, rng.integers(0, 4, n))
    arr = pa.ListArray.from_arrays(
        pa.array(np.concatenate([[0], np.cumsum(arr_len)]), pa.int32(),
                 mask=np.append(arr_null, False)),
        pa.array(awkward_floats(rng, int(arr_len.sum()))))
    # map keys: consecutive pool entries, unique within a row
    map_null = rng.random(n) < 0.1
    map_len = np.where(map_null, 0, rng.integers(0, 3, n))
    first = rng.integers(0, len(pool) - 3, n)
    keys = np.concatenate([first[i] + np.arange(k) for i, k in enumerate(map_len)]).astype(np.int64)
    m = pa.MapArray.from_arrays(
        pa.array(np.concatenate([[0], np.cumsum(map_len)]), pa.int32(),
                 mask=np.append(map_null, False)),
        pa.array(list(pool[keys]), pa.string()),
        pa.array(rng.integers(-9, 9, len(keys)), pa.int64()))
    return pa.table({
        "id": pa.array(np.arange(n), pa.int64()),
        "d1": nullable(awkward_floats(rng, n)),
        "d2": nullable(awkward_floats(rng, n)),
        "f1": nullable(awkward_floats(rng, n).astype(np.float32), pa.float32()),
        "f2": nullable(awkward_floats(rng, n).astype(np.float32), pa.float32()),
        "s1": nullable(list(pool[rng.integers(0, len(pool), n)])),
        "s2": nullable(list(pool[rng.integers(0, len(pool), n)])),
        "n": nullable(rng.integers(-10**12, 10**12, n), pa.int64()),
        "arr": arr,
        "m": m,
    })


def generate(workload, seed, data, nproc, sizes):
    """Write the inputs of `workload` under `data`."""
    rng = np.random.default_rng(seed)
    data = Path(data)
    if workload == "lineitem_export":
        _write(lineitem(rng, sizes["lineitem"]), data / "lineitem.parquet")
    elif workload == "awkward_export":
        t = awkward(rng, sizes["awkward"])
        per = -(-t.num_rows // nproc)
        for i in range(nproc):
            _write(t.slice(i * per, per), data / "awkward.parquet" / f"part-{i:05d}.parquet")
    elif workload == "dedup_queries":
        _write(documents(rng, sizes["documents"]), data / "documents.parquet")
        _write(embeddings(rng, sizes["embeddings"]), data / "embeddings.parquet")
    else:
        raise ValueError(f"unknown workload {workload}")
