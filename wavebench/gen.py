"""Seeded generator for the benchmark's raw inputs.

Everything the program under test receives is written here as plain
parquet batch files, from the workload seed alone: the same seed gives
byte-identical files, another seed gives other files.

Schema (cities-like): ``uuid`` (unique), ``ts`` (event time, spread over
30 days), ``city`` (multi-valued, ``;``-delimited in the raw file),
``country``, ``code`` (high cardinality), ``num`` and, on the minority
``doc`` datatype only, a free-text ``body``.  Term frequencies are
Zipf-skewed.  The ColumnVisibility marking of a raw file is given by its
directory, the way a deployment configures one default marking per
ingest feed; ``LABEL_DIRS`` maps each label to its directory name.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

START = dt.datetime(2024, 1, 1)
DAYS = 30
#: live batches carry event times on the day after the base window
LIVE_DAY = START + dt.timedelta(days=DAYS)

LABELS = ("", "Euro", "NA", "Euro&Private", "Euro|NA")
LABEL_WEIGHTS = (0.40, 0.20, 0.20, 0.10, 0.10)
LABEL_DIRS = {"": "public", "Euro": "Euro", "NA": "NA",
              "Euro&Private": "Euro_and_Private", "Euro|NA": "Euro_or_NA"}
#: the live feed's marking
LIVE_LABEL = "Euro|NA"

DATATYPES = ("city", "doc")
DOC_SHARE = 0.15
#: markings per datatype: city events carry every label, the minority
#: doc feed (whose ingest tokenizes BODY) two of them
DATATYPE_LABELS = {"city": LABELS, "doc": ("", "Euro|NA")}

N_CITIES = 300
N_COUNTRIES = 40
N_CODES = 20_000
N_WORDS = 400

RAW_SCHEMA = pa.schema([
    ("uuid", pa.string()), ("ts", pa.timestamp("us")),
    ("city", pa.string()), ("country", pa.string()),
    ("code", pa.string()), ("num", pa.int64()), ("body", pa.string()),
])


@dataclass(frozen=True)
class Sizes:
    base_events: int
    live_batch_events: int
    live_batches: int


def _zipf(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


class Vocab:
    """Value vocabularies with their Zipf weights; identical for every
    seed so that query templates can name values by rank."""
    cities = np.array([f"city{i:03d}" for i in range(N_CITIES)])
    countries = np.array([f"country{i:02d}" for i in range(N_COUNTRIES)])
    codes = np.array([f"c{i:05d}" for i in range(N_CODES)])
    words = np.array([f"w{i:03d}" for i in range(N_WORDS)])
    p_city = _zipf(N_CITIES, 1.0)
    p_country = _zipf(N_COUNTRIES, 0.9)
    p_code = _zipf(N_CODES, 0.8)
    p_word = _zipf(N_WORDS, 1.1)


def make_events(rng: np.random.Generator, n: int, prefix: str,
                datatype: str, t0: dt.datetime, span_s: float) -> pa.Table:
    """``n`` raw events of one datatype with event times in
    ``[t0, t0 + span_s)``."""
    v = Vocab
    city = _joined(rng, rng.integers(1, 4, n), v.cities, v.p_city, ";")
    offs = np.sort(rng.integers(0, int(span_s * 1e6), n))
    base_us = int((t0 - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    body = (_joined(rng, rng.integers(8, 21, n), v.words, v.p_word, " ")
            if datatype == "doc" else pa.nulls(n, pa.string()))
    return pa.table({
        "uuid": [f"{prefix}-{i:07d}" for i in range(n)],
        "ts": pa.array(base_us + offs, pa.int64()).cast(pa.timestamp("us")),
        "city": city,
        "country": v.countries[rng.choice(N_COUNTRIES, n, p=v.p_country)],
        "code": v.codes[rng.choice(N_CODES, n, p=v.p_code)],
        "num": rng.integers(0, 1000, n),
        "body": body,
    }, schema=RAW_SCHEMA)


def _joined(rng: np.random.Generator, counts: np.ndarray, vocab: np.ndarray,
            p: np.ndarray, sep: str) -> pa.Array:
    """One string per row: ``counts[i]`` Zipf-drawn vocabulary words
    joined by ``sep``."""
    words = vocab[rng.choice(len(vocab), size=int(counts.sum()), p=p)]
    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    lists = pa.ListArray.from_arrays(pa.array(offsets),
                                     pa.array(words, pa.string()))
    return pc.binary_join(lists, sep)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def generate(root: str, seed: int, sizes: Sizes) -> dict:
    """Write the raw inputs under ``root`` and return their manifest:
    ``base`` maps (datatype, label) to its directory, ``live`` lists
    the live batch files in landing order."""
    rng = np.random.default_rng(seed)
    manifest: dict = {"base": {}, "live": []}
    n_doc = int(sizes.base_events * DOC_SHARE)
    counts = {"city": sizes.base_events - n_doc, "doc": n_doc}
    for datatype in DATATYPES:
        events = make_events(rng, counts[datatype], f"s{seed}-{datatype}",
                             datatype, START, DAYS * 86400.0)
        if datatype == "city":
            events = events.drop_columns(["body"])
        labels = DATATYPE_LABELS[datatype]
        weights = np.array([LABEL_WEIGHTS[LABELS.index(v)] for v in labels])
        label_of = rng.choice(len(labels), size=events.num_rows,
                              p=weights / weights.sum())
        for li, label in enumerate(labels):
            part = events.filter(pa.array(label_of == li))
            d = os.path.join(root, "base", datatype, LABEL_DIRS[label])
            _write(part, os.path.join(d, "part-00000.parquet"))
            manifest["base"][(datatype, label)] = d
    for k in range(sizes.live_batches):
        batch = make_events(rng, sizes.live_batch_events,
                            f"s{seed}-live{k:04d}", "doc", LIVE_DAY, 86400.0)
        path = os.path.join(root, "live", f"batch-{k:04d}.parquet")
        _write(batch, path)
        manifest["live"].append(path)
    return manifest
