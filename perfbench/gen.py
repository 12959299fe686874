"""Seeded inputs for the benchmark, and the expected results they imply.

Every generator takes a ``numpy.random.Generator`` built from the run's
seed, so one seed always yields byte-identical files.  The program under
test only ever sees the files; the expected cells are computed here, in
plain Python/pandas, independently of Spark:

* MUPR: ``\\x00``-separated 11-field records, one file per lot, plus the
  trigger CSV that maps each file to (Lot, Lato_Start_WW, Lots_seq_key).
* MUCR: ``\\x00``-separated variable-arity counter lines, same file and
  trigger layout.
* documents: the word-salad corpus shape of the fixture ``documents``
  table (10-100 tokens from a 30-word vocabulary, five languages).
* stream rows: lineitem-shaped rows split into parquet files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DELIM = "\x00"


@dataclass
class FileSet:
    """A directory of generated input files plus what they must load as."""

    data_dir: str
    trig_path: str
    records: int  # MUPR records or MUCR counters
    input_bytes: int
    cells: dict  # (row_key, col_name) -> tuple of sorted value strings


#: Spark renders a parsed FLOAT quarter below 1000 exactly as Python's
#: ``repr`` does (``12.25``, ``3.0``); indexed by the quarter count.
_QUARTERS = np.array([repr(k / 4.0) for k in range(4_000)], dtype=object)


def _write_trigger(path: str, rows: list) -> None:
    with open(path, "w") as fh:
        fh.write("File_Name,Lot,Lato_Start_WW,Lots_seq_key\n")
        for r in rows:
            fh.write(",".join(str(v) for v in r) + "\n")


def _lot_meta(rng: np.random.Generator, n_files: int, tag: str) -> list:
    """(file name, Lot, WW, Lots_seq_key) per file; distinct lots."""
    lots = rng.choice(900_000, size=n_files, replace=False) + 100_000
    wws = rng.integers(1, 53, size=n_files)
    seqs = rng.integers(1, 10_000, size=n_files)
    return [
        (f"{tag}_{i:04d}.dat", f"L{lots[i]}", int(wws[i]), int(seqs[i]))
        for i in range(n_files)
    ]


def _cells_from(row_keys, col_names, values) -> dict:
    """Group values per (row_key, col_name), sorted like ``array_sort``.
    Plain Python: pandas' string hashing stops at the first NUL byte,
    and every row key here is NUL-delimited."""
    cells: dict = {}
    for key in zip(row_keys, col_names, values):
        cells.setdefault(key[:2], []).append(key[2])
    return {k: tuple(sorted(v)) for k, v in cells.items()}


def mupr(
    rng: np.random.Generator,
    out_dir: str,
    n_files: int,
    units_per_file: int,
    tests_per_unit: int,
    reps_per_test: int,
) -> FileSet:
    """MUPR files: every unit runs ``tests_per_unit`` tests, each measured
    1..``reps_per_test`` times, so a cell holds 1..reps values."""
    data_dir = os.path.join(out_dir, "mupr")
    os.makedirs(data_dir, exist_ok=True)
    meta = _lot_meta(rng, n_files, "mupr")
    keys: list = []
    cols: list = []
    vals: list = []
    total_bytes = 0
    for fname, lot, ww, seq in meta:
        units = np.repeat(np.arange(units_per_file) + 1, tests_per_unit)
        tests = np.tile(
            rng.choice(400, size=tests_per_unit, replace=False), units_per_file
        )
        reps = rng.integers(1, reps_per_test + 1, size=units.size)
        units = np.repeat(units, reps)
        tests = np.repeat(tests, reps)
        n = units.size
        f = {
            "unit": units.astype(str),
            "sub": np.char.add("S", rng.integers(0, 16, size=n).astype(str)),
            "order": rng.integers(0, 5_000, size=n).astype(str),
            "arr": _QUARTERS[rng.integers(0, 64, size=n) * 2],
            "test_id": rng.integers(0, 997, size=n).astype(str),
            "meas": _QUARTERS[rng.integers(0, 4_000, size=n)],
            "active": np.char.add("A", rng.integers(0, 4, size=n).astype(str)),
            "passfail": np.where(rng.random(n) < 0.9, "P", "F"),
            "mask": np.char.add("M", rng.integers(0, 16, size=n).astype(str)),
            "test": np.char.add("T_", tests.astype(str)),
        }
        # ~8% NULL sessions: an empty field in the file
        session = rng.integers(0, 100, size=n).astype(str)
        session[rng.random(n) < 0.08] = ""
        f = {k: v.tolist() for k, v in f.items()}
        session = session.tolist()
        # joined with str.join: numpy and pandas string ops both drop a
        # trailing NUL, which would eat the delimiters
        d = DELIM
        body = "".join(
            d.join(r) + "\n"
            for r in zip(
                f["unit"], f["sub"], session, f["order"], f["arr"], f["test_id"],
                f["meas"], f["active"], f["passfail"], f["mask"], f["test"],
            )
        )
        with open(os.path.join(data_dir, fname), "w") as fh:
            fh.write(body)
        total_bytes += len(body.encode())
        # the cell blob in MUPR_VALUE_COLS order (plans/pipelines.py);
        # concat_ws skips the NULL session
        vals.extend(
            d.join(x for x in r if x)
            for r in zip(
                f["meas"], f["sub"], f["order"], session, f["active"],
                f["passfail"], f["mask"], f["arr"],
            )
        )
        prefix = f"{lot}{d}{ww}{d}{seq}{d}"
        keys.extend(prefix + u for u in f["unit"])
        cols.extend(f["test"])
    trig = os.path.join(out_dir, "mupr_trigger.csv")
    _write_trigger(trig, meta)
    total_bytes += os.path.getsize(trig)
    return FileSet(
        data_dir=data_dir,
        trig_path=trig,
        records=len(vals),
        input_bytes=total_bytes,
        cells=_cells_from(keys, cols, vals),
    )


def mucr(
    rng: np.random.Generator,
    out_dir: str,
    n_files: int,
    lines_per_file: int,
    max_counters: int,
) -> FileSet:
    """MUCR files: one line per unit (an order) with 1..``max_counters``
    counter triples (its line items); the cell qualifier is
    flag ++ hex(len(id)) ++ id."""
    data_dir = os.path.join(out_dir, "mucr")
    os.makedirs(data_dir, exist_ok=True)
    meta = _lot_meta(rng, n_files, "mucr")
    keys: list = []
    cols: list = []
    vals: list = []
    total_bytes = 0
    d = DELIM
    for fname, lot, ww, seq in meta:
        prefix = f"{lot}{d}{ww}{d}{seq}{d}"
        n = lines_per_file
        k = rng.integers(1, max_counters + 1, size=n)
        flg = np.where(rng.random(n) < 0.9, "P", "F").tolist()
        sub = np.char.add("S", rng.integers(0, 16, size=n).astype(str)).tolist()
        sess = rng.integers(0, 100, size=n).astype(str).tolist()
        # counter ids distinct within a line: a random start plus a
        # stride coprime to the id space
        line = np.repeat(np.arange(n), k)
        step = np.arange(k.sum()) - np.repeat(np.cumsum(k) - k, k)
        ids = np.char.add(
            "C", ((rng.integers(0, 5_000, size=n)[line] + 701 * step) % 5_000).astype(str)
        ).tolist()
        occ = rng.integers(1, 50, size=line.size).astype(str).tolist()
        sq = rng.integers(0, 1_000, size=line.size).astype(str).tolist()
        lines = []
        j = 0
        for u in range(n):
            unit = str(u + 1)
            fields = [unit, sess[u], "prog", flg[u], sub[u], str(k[u])]
            for c in range(j, j + int(k[u])):
                fields += [ids[c], occ[c], sq[c]]
                keys.append(prefix + unit)
                cols.append(f"{flg[u]}{len(ids[c]):x}{ids[c]}")
                vals.append(f"{sq[c]}{d}{sub[u]}{d}{occ[c]}")
            j += int(k[u])
            lines.append(d.join(fields))
        body = "\n".join(lines) + "\n"
        with open(os.path.join(data_dir, fname), "w") as fh:
            fh.write(body)
        total_bytes += len(body.encode())
    trig = os.path.join(out_dir, "mucr_trigger.csv")
    _write_trigger(trig, meta)
    total_bytes += os.path.getsize(trig)
    return FileSet(
        data_dir=data_dir,
        trig_path=trig,
        records=len(vals),
        input_bytes=total_bytes,
        cells=_cells_from(keys, cols, vals),
    )


_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])


def documents(rng: np.random.Generator, sf_dir: str, n_docs: int) -> int:
    """``<sf_dir>/documents.parquet`` in the fixture corpus's shape; about
    one doc in 600 is an exact copy of an earlier one and one token in
    400 is ``dup``.  Returns the file's size in bytes."""
    os.makedirs(sf_dir, exist_ok=True)
    vocab = np.array(_VOCAB + ["dup"])
    p = np.full(len(vocab), (1 - 1 / 400) / len(_VOCAB))
    p[-1] = 1 / 400
    lengths = rng.integers(10, 101, size=n_docs)
    words = rng.choice(vocab, size=int(lengths.sum()), p=p)
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    for i in np.flatnonzero(rng.random(n_docs) < 1 / 600):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, size=n_docs, p=_LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(table, path)
    return os.path.getsize(path)


STREAM_KEY_COLS = ("l_returnflag", "l_linestatus", "l_orderkey")
STREAM_COL_NAME = "l_partkey"
STREAM_VALUE_COLS = ("l_linenumber", "l_suppkey")
STREAM_SCHEMA = (
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
    "l_linenumber INT, l_returnflag STRING, l_linestatus STRING"
)


def stream_rows(
    rng: np.random.Generator, src_dir: str, n_rows: int, n_files: int
) -> tuple[int, dict]:
    """Lineitem-shaped rows in ``n_files`` parquet files of seeded sizes.
    Returns (input bytes, expected cells)."""
    os.makedirs(src_dir, exist_ok=True)
    n_orders = -(-n_rows // 4)
    orders = np.sort(rng.choice(n_rows * 4, size=n_orders, replace=False))
    okey = np.repeat(orders, 4)[:n_rows]
    lnum = np.tile(np.arange(1, 5, dtype=np.int32), n_orders)[:n_rows]
    frame = pd.DataFrame(
        {
            "l_orderkey": okey.astype(np.int64),
            "l_partkey": rng.integers(1, 2_000, size=n_rows).astype(np.int64),
            "l_suppkey": rng.integers(1, 100, size=n_rows).astype(np.int64),
            "l_linenumber": lnum,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), size=n_rows),
            "l_linestatus": rng.choice(np.array(["F", "O"]), size=n_rows),
        }
    )
    frame = frame.iloc[rng.permutation(n_rows)].reset_index(drop=True)
    weights = rng.random(n_files) + 0.5
    bounds = np.concatenate(
        [[0], np.cumsum(weights / weights.sum() * n_rows).astype(int)]
    )
    bounds[-1] = n_rows
    total = 0
    for i in range(n_files):
        part = pa.Table.from_pandas(
            frame.iloc[bounds[i] : bounds[i + 1]], preserve_index=False
        )
        path = os.path.join(src_dir, f"part-{i:04d}.parquet")
        pq.write_table(part, path)
        total += os.path.getsize(path)
    key = [
        DELIM.join(r)
        for r in zip(
            frame["l_returnflag"], frame["l_linestatus"],
            frame["l_orderkey"].astype(str),
        )
    ]
    value = [
        DELIM.join(r)
        for r in zip(frame["l_linenumber"].astype(str), frame["l_suppkey"].astype(str))
    ]
    return total, _cells_from(key, frame["l_partkey"].astype(str).tolist(), value)
