"""Seeded inputs for the benchmark.

Two kinds of input, both written under the checkout's build directory,
never into the source tree:

* the table fixture (``region`` .. ``embeddings``, one parquet file each)
  in the shape of the TPC-H/event/document tables the engine's catalog
  reads (``sources.catalog.TABLE_NAMES``). It is generated from a fixed
  seed, so the oracle fingerprints stored beside this file stay valid;
* a CIFAR-10 python-format tar (``cifar-10-batches-py/data_batch_1..5``,
  ``test_batch`` and a ``batches.meta`` that is not a batch), generated
  from the run's ``--seed``. Both ``sources.cifar`` and the
  ``cifar_pickle`` DataSource read it.

``write_cifar`` also replays the scoring pipeline over the generated
images in NumPy, so every scoring pass can be checked exactly.

The benchmark runs this module as its own process before it starts
Spark (``python3 perfbench/datagen.py --build DIR --sf SF [--cifar-seed
N --per-member K]``), so the memory generation takes is not counted in
the measured process tree.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import pickle
import sys
import tarfile
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated tables change; the fixture cache and the
# stored fingerprints are keyed by it.
FIXTURE_VERSION = 1
FIXTURE_SEED = 42

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_COLORS = ("blue", "cold", "green", "large", "red", "small", "warm", "white")
_NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_EMB_DIM = 64

CIFAR_MEMBERS = tuple(f"data_batch_{i}" for i in range(1, 6)) + ("test_batch",)
CIFAR_FEATURES = 3072
CIFAR_CLASSES = 10
CIFAR_TAR = "cifar-10-python.tar"


def _days(rng: np.random.Generator, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = 4 * n_ord
    n_events = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    keys = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, i64),
            "p_name": [
                f"{_COLORS[c]} {_NOUNS[n]}"
                for c, n in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": 900.0 + (keys % 1000) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_line),
            "l_linestatus": rng.choice(("F", "O"), n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_events)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), i64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
            "event_type": rng.choice(_EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    # 5% of documents are another document plus one extra token: the
    # near duplicates the dedup operators exist to find.
    texts = [
        " ".join(rng.choice(_WORDS, int(k))) for k in rng.integers(10, 100, n_docs)
    ]
    dups = rng.choice(n_docs, n_docs // 20, replace=False)
    originals = np.setdiff1d(np.arange(n_docs), dups)
    for d in dups:
        texts[d] = texts[int(rng.choice(originals))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    vecs = rng.standard_normal((n_vecs, _EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), i32),
        }
    )
    return t


def fixture_dir(build_dir: str, sf: float) -> str:
    return os.path.join(build_dir, f"fixture-v{FIXTURE_VERSION}-sf{sf:g}")


def ensure_fixture(build_dir: str, sf: float) -> str:
    """Generate the table fixture once per checkout; return its directory."""
    out = fixture_dir(build_dir, sf)
    done = os.path.join(out, ".complete")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(FIXTURE_SEED)
    for name, table in _tables(sf, rng).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    with open(done, "w") as fh:
        fh.write("ok\n")
    return out


@dataclass(frozen=True)
class CifarInput:
    path: str
    n_images: int
    archive_bytes: int
    mean_chw: np.ndarray  # (3, 32, 32) float32 per-pixel mean of the images
    expected_confusion: dict[tuple[int, int], int]
    expected_correct: int


def reference_scores(data: np.ndarray, mean_chw: np.ndarray, w: np.ndarray) -> np.ndarray:
    """The reference scoring chain on flat (N, 3072) uint8 CIFAR rows,
    written out here rather than taken from the engine so that it checks
    the engine's preprocess: channel-major rows as (N, C, H, W), RGB to
    BGR, float32, minus the CHW mean image, flattened, times the
    linear model's weights."""
    x = data.reshape(-1, 3, 32, 32)[:, ::-1].astype(np.float32) - mean_chw
    return x.reshape(len(x), -1).astype(np.float64) @ w.T


def write_cifar(out_dir: str, seed: int, per_member: int) -> None:
    """Write a seeded CIFAR-10 python-format tar, replay its scoring in
    NumPy and store the expected results beside it for ``load_cifar``."""
    from hdinsight_pyspark_cntk_integration_spark.operators.scoring import (
        linear_stub_weights,
    )

    rng = np.random.default_rng([seed, 10])
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, CIFAR_TAR)
    datas, labels = [], []
    with tarfile.open(path, "w") as tar:

        def add(name: str, obj: object) -> None:
            blob = pickle.dumps(obj, protocol=4)
            info = tarfile.TarInfo(f"cifar-10-batches-py/{name}")
            info.size = len(blob)
            tar.addfile(info, io.BytesIO(blob))

        add("batches.meta", {b"label_names": [b"c%d" % i for i in range(10)]})
        for member in CIFAR_MEMBERS:
            data = rng.integers(0, 256, (per_member, CIFAR_FEATURES), dtype=np.uint8)
            labs = rng.integers(0, CIFAR_CLASSES, per_member).tolist()
            add(member, {b"data": data, b"labels": labs, b"batch_label": member.encode()})
            datas.append(data)
            labels.extend(labs)
    data = np.concatenate(datas)
    y = np.asarray(labels, dtype=np.int64)
    mean_chw = data.reshape(-1, 3, 32, 32).mean(axis=0, dtype=np.float64).astype(np.float32)
    w = linear_stub_weights(CIFAR_FEATURES, CIFAR_CLASSES)
    pred = np.concatenate([
        reference_scores(chunk, mean_chw, w).argmax(axis=1)
        for chunk in np.array_split(data, max(1, len(data) // 2048))
    ])
    np.save(os.path.join(out_dir, "mean_chw.npy"), mean_chw)
    confusion = Counter(zip(y.tolist(), pred.tolist()))
    with open(os.path.join(out_dir, "expected.json"), "w") as fh:
        json.dump(
            {
                "n_images": len(y),
                "correct": int((y == pred).sum()),
                "confusion": [[t, p, n] for (t, p), n in sorted(confusion.items())],
            },
            fh,
        )


def load_cifar(out_dir: str) -> CifarInput:
    """The archive ``write_cifar`` left in ``out_dir`` and its replay."""
    path = os.path.join(out_dir, CIFAR_TAR)
    with open(os.path.join(out_dir, "expected.json")) as fh:
        expected = json.load(fh)
    return CifarInput(
        path=path,
        n_images=expected["n_images"],
        archive_bytes=os.path.getsize(path),
        mean_chw=np.load(os.path.join(out_dir, "mean_chw.npy")),
        expected_confusion={(t, p): n for t, p, n in expected["confusion"]},
        expected_correct=expected["correct"],
    )


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description="Generate the benchmark's inputs.")
    p.add_argument("--build", required=True, help="directory the inputs go under")
    p.add_argument("--sf", type=float, required=True, help="table fixture scale factor")
    p.add_argument("--cifar-seed", type=int, help="also write a CIFAR archive from this seed")
    p.add_argument("--per-member", type=int, default=0, help="images per CIFAR member")
    args = p.parse_args(argv)
    ensure_fixture(args.build, args.sf)
    if args.cifar_seed is not None:
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        write_cifar(os.path.join(args.build, "cifar"), args.cifar_seed, args.per_member)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
