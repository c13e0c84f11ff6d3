"""Deterministic benchmark inputs.

Table *content* comes from a fixed content seed, so sizes, values and the
expected outputs never change. The run's `--seed` only permutes row order
before the parquet write, so file layout (row groups, split boundaries,
AQE partition sizes) varies between runs while every correct answer stays
the same.

The tables are TPC-H shaped (same column names and types as the repo's
sf* testdata) plus a `documents` corpus for the curation pipeline.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20261016
ROW_GROUPS = 8  # several row groups per file, so the scan splits across cores


@dataclass(frozen=True)
class Input:
    name: str
    path: str
    rows: int
    bytes: int


def _ts(rng: np.random.Generator, n: int) -> np.ndarray:
    start = np.datetime64("1992-01-01T00:00:00", "us")
    days = rng.integers(0, 2400, n).astype("timedelta64[D]")
    return start + days.astype("timedelta64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem(n: int) -> pa.Table:
    rng = np.random.default_rng([CONTENT_SEED, 1])
    qty = rng.integers(1, 51, n).astype("float64")
    return pa.table(
        {
            "l_orderkey": np.sort(rng.integers(1, max(2, n // 4), n)).astype("int64"),
            "l_partkey": rng.integers(1, 20_000, n).astype("int64"),
            "l_suppkey": rng.integers(1, 1_000, n).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, n, 900.0, 2000.0), 2),
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["O", "F"]), n),
            "l_shipdate": _ts(rng, n),
        }
    )


_WORDS = (
    "data table scan spark query filter join group window column value row batch "
    "stream merge sort hash order customer line part vector agg key small big fast slow"
).split()
_EN = ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with"]
_DE = ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf"]


def _sentence(rng: np.random.Generator, stop: list[str], k: int) -> str:
    words = [
        stop[rng.integers(len(stop))] if rng.random() < 0.35 else _WORDS[rng.integers(len(_WORDS))]
        for _ in range(k)
    ]
    return " ".join(words) + "."


def _doc(rng: np.random.Generator, kind: str) -> str:
    stop = _DE if kind == "de" else _EN
    lines = [_sentence(rng, stop, int(rng.integers(8, 20))) for _ in range(int(rng.integers(3, 9)))]
    if kind == "junk":
        return " ".join(f"{_WORDS[rng.integers(len(_WORDS))][:2]}!!" for _ in range(int(rng.integers(3, 12))))
    if kind == "markdown":
        lines = [f"# {lines[0]}", *(f"- **{ln}**" for ln in lines[1:-1]), f"[{lines[-1]}](https://x.org)"]
    elif kind == "repetitive":
        lines = [lines[0]] * 6 + lines[1:2]
    return "\n".join(lines)


def documents(n: int) -> pa.Table:
    """A corpus with something for every curation step: markdown to strip,
    German docs for the language gate, junk for the quality gate,
    repetitive docs, duplicates up to case and whitespace (fingerprint
    dedup), and one-word edits of earlier docs."""
    rng = np.random.default_rng([CONTENT_SEED, 4])
    kinds = rng.choice(
        np.array(["plain", "markdown", "de", "repetitive", "junk", "exact_dup", "near_dup"]),
        n,
        p=[0.45, 0.15, 0.1, 0.05, 0.05, 0.1, 0.1],
    )
    texts: list[str] = []
    for i, kind in enumerate(kinds):
        if kind in ("exact_dup", "near_dup") and i > 0:
            src = texts[int(rng.integers(i))]
            if kind == "exact_dup":
                texts.append("  " + src.upper() + " ")
            else:
                words = src.split(" ")
                words[int(rng.integers(len(words)))] = "edited"
                texts.append(" ".join(words))
        else:
            texts.append(_doc(rng, str(kind)))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": np.where(kinds == "de", "de", "en"),
            "source": np.array([f"src{i % 7}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def write(table: pa.Table, name: str, directory: str, seed: int) -> Input:
    """Write `table` with its rows permuted by `seed`."""
    perm = np.random.default_rng(seed).permutation(table.num_rows)
    path = os.path.join(directory, f"{name}.parquet")
    pq.write_table(
        table.take(perm),
        path,
        row_group_size=max(1, -(-table.num_rows // ROW_GROUPS)),
    )
    return Input(name, path, table.num_rows, os.path.getsize(path))
