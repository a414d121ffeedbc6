"""Seeded input generators for the benchmark workloads.

Two families, both pure functions of a seed (same seed, same bytes):

- ``write_tables`` writes the registry's standard test tables (the
  TPC-H-style star schema plus ``events``, ``documents`` and
  ``embeddings``) as one parquet file each, with the column names, types
  and value distributions of the engine's test data. A fixed share of the
  documents are near-duplicates of earlier ones, some in chains, so
  near-dup grouping finds components of more than two members. The
  registry queries and their DuckDB oracles read these files unchanged.
- ``write_ingest_files`` writes newline-delimited JSON and CSV files for
  the JobRunner workload, with a fixed share of corrupt lines, skewed
  per-file sizes and a fixed share of duplicated texts, and returns the
  ground truth needed to check every step without Spark.

Only numpy and pyarrow are used, so generation needs no Spark session.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale factor 1; every table but the fixed dimensions and
# ``embeddings`` scales linearly, as in the engine's test data.
_ROWS_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
}
_EMBEDDING_ROWS_MIN = 500
_EMBEDDING_DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.15, 0.13, 0.14]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter vector"
).split()

NEAR_DUP_SHARE = 0.2  # of documents: an earlier text with 1-3 words replaced or dropped
CHAIN_SHARE = 0.5  # of near-duplicates: edited from the previous near-duplicate

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def table_rows(scale: float) -> dict[str, int]:
    """Row count of every table at ``scale``."""
    rows = {t: max(1, round(n * scale)) for t, n in _ROWS_SF1.items()}
    rows["region"] = len(_REGIONS)
    rows["nation"] = 25
    rows["embeddings"] = max(_EMBEDDING_ROWS_MIN, round(20_000 * scale))
    return rows


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: np.datetime64, span: int, n: int) -> np.ndarray:
    return start + rng.integers(0, span, n) * np.timedelta64(_US_PER_DAY, "us")


def _text(rng: np.random.Generator, lo: int, hi: int) -> str:
    n = int(rng.integers(lo, hi))
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n))


def _near_dup(rng: np.random.Generator, text: str) -> str:
    words = text.split()
    for _ in range(int(rng.integers(1, 4))):
        i = int(rng.integers(0, len(words)))
        if len(words) > 3 and rng.random() < 0.5:
            del words[i]
        else:
            words[i] = WORDS[int(rng.integers(0, len(WORDS)))]
    return " ".join(words)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` texts; a share ``NEAR_DUP_SHARE`` are edits of an earlier
    text, and a share ``CHAIN_SHARE`` of those edit the previous edit, so
    copies form chains of near-duplicates."""
    texts: list[str] = []
    last_dup = None
    for _ in range(n):
        if texts and rng.random() < NEAR_DUP_SHARE:
            chained = last_dup is not None and rng.random() < CHAIN_SHARE
            src = texts[last_dup] if chained else texts[int(rng.integers(0, len(texts)))]
            last_dup = len(texts)
            texts.append(_near_dup(rng, src))
        else:
            texts.append(_text(rng, 10, 90))
    return texts


def _write(out_dir: str, name: str, cols: dict[str, pa.Array | np.ndarray | list]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten standard tables under ``out_dir`` and return their
    row counts. Keys are dense from 0, so every foreign key resolves."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = table_rows(scale)
    nc, ns, np_, no, nl = (
        rows[t] for t in ("customer", "supplier", "part", "orders", "lineitem")
    )
    i32 = pa.int32()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _days(rng, _EPOCH_1995, 2404, no),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, np_, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, _EPOCH_1995 + np.timedelta64(1, "D"), 2498, nl),
    })
    ne = rows["events"]
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, ne))
    _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _EPOCH_2024 + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, round(15_000 * scale)), ne),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = rows["documents"]
    texts = _documents(rng, nd)
    _write(out_dir, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, nd, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = rows["embeddings"]
    vecs = rng.normal(0.0, 0.125, (nv, _EMBEDDING_DIM)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), _EMBEDDING_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32),
    })
    return rows


# -- JobRunner ingest files --------------------------------------------------

INGEST_SCHEMA = "id bigint, text string, lang string, score double"
NDJSON_FILES = 8
CSV_FILES = 4
CORRUPT_SHARE = 0.01  # of lines, in both formats
DUP_SHARE = 0.25  # of texts: an earlier text again, upper-cased


@dataclass
class IngestTruth:
    """What a correct run of the ingest job must report."""

    ndjson_files: list[str]
    csv_files: list[str]
    ok: dict[str, int] = field(default_factory=dict)  # per file, parsed lines
    err: dict[str, int] = field(default_factory=dict)  # per file, corrupt lines
    distinct_texts: int = 0  # distinct lower-cased texts over all ok lines

    def total(self, files: list[str], kind: str) -> int:
        counts = self.ok if kind == "ok" else self.err
        return sum(counts[f] for f in files)

    @property
    def records(self) -> int:
        return sum(self.ok.values()) + sum(self.err.values())


def _file_sizes(rng: np.random.Generator, n_files: int, total: int) -> list[int]:
    """Skewed (Zipf-like, shuffled) split of ``total`` lines over files."""
    w = 1.0 / np.arange(1, n_files + 1)
    rng.shuffle(w)
    sizes = np.floor(w / w.sum() * total).astype(int)
    sizes[np.argmax(sizes)] += total - int(sizes.sum())
    return [int(s) for s in sizes]


def write_ingest_files(
    out_dir: str, seed: int, ndjson_records: int, csv_records: int
) -> IngestTruth:
    """Write ``NDJSON_FILES`` NDJSON and ``CSV_FILES`` CSV files of records
    ``{id, text, lang, score}`` and return their ground truth.

    Each line is corrupt with probability ``CORRUPT_SHARE`` (malformed
    JSON, or a CSV row whose ``id`` is not an integer). A share
    ``DUP_SHARE`` of the texts repeats an earlier text with different
    case, so an exact dedup on the lower-cased text removes them."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    truth = IngestTruth([], [])
    seen: list[str] = []
    distinct: set[str] = set()
    next_id = 0

    def record() -> tuple[int, str, str, float]:
        nonlocal next_id
        if seen and rng.random() < DUP_SHARE:
            text = seen[int(rng.integers(0, len(seen)))].upper()
        else:
            text = f"{_text(rng, 4, 24)} {next_id}"
            seen.append(text)
        next_id += 1
        lang = _LANGS[int(rng.integers(0, 5))]
        return next_id - 1, text, lang, round(float(rng.random()), 4)

    plan = [("ndjson", i, n) for i, n in enumerate(_file_sizes(rng, NDJSON_FILES, ndjson_records))]
    plan += [("csv", i, n) for i, n in enumerate(_file_sizes(rng, CSV_FILES, csv_records))]
    for kind, i, n in plan:
        path = os.path.join(out_dir, f"part-{i:03d}.{kind}")
        ok = err = 0
        with open(path, "w", encoding="utf-8") as fh:
            if kind == "csv":
                fh.write("id,text,lang,score\n")
            for _ in range(n):
                rid, text, lang, score = record()
                corrupt = rng.random() < CORRUPT_SHARE
                if kind == "ndjson":
                    line = (
                        f'{{"id": {rid}, "text": "{text}'  # unterminated
                        if corrupt
                        else json.dumps({"id": rid, "text": text, "lang": lang, "score": score})
                    )
                else:
                    line = f"{'x' if corrupt else ''}{rid},{text},{lang},{score}"
                fh.write(line + "\n")
                if corrupt:
                    err += 1
                else:
                    ok += 1
                    distinct.add(text.lower())
        (truth.ndjson_files if kind == "ndjson" else truth.csv_files).append(path)
        truth.ok[path] = ok
        truth.err[path] = err
    truth.distinct_texts = len(distinct)
    return truth
