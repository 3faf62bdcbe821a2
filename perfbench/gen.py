"""Seeded input generator for the benchmark workloads.

Every table has the Arrow schema of the matching test fixture
(FIXTURES.md section B) and value domains modelled on the sf0.1
fixture: the same key ranges, category sets, price and date ranges.
The same ``(workload, seed)`` always writes byte-identical parquet
files, and another seed changes every table; the engine under test
only ever sees the output directory.

Each workload varies the input property its operations depend on:

- ``mr_corpus``: a Zipf vocabulary (mixed case, non-ASCII letters,
  digits and punctuation between tokens) sets the shuffle's key skew;
  its events feed the hourly stream;
- ``dedup_iterative``: the near-duplicate share and the chain length
  of each duplicate family fix the connected-components round count.

``warmup`` is the small fixed ``lineitem`` the set-up query reads.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS = pa.timestamp("us")

SCHEMAS: dict[str, pa.Schema] = {
    "lineitem": pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                           ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                           ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                           ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                           ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                           ("l_shipdate", TS)]),
    "events": pa.schema([("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
                         ("event_type", pa.string()), ("value", pa.float64()),
                         ("props", pa.string())]),
    "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())]),
}

# Value domains of the sf0.1 fixture.
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
N_SOURCES = 20
# The fixture's documents vocabulary: lowercase ASCII words, two of
# them stopwords the quality filter counts.
FIXTURE_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()

# Each workload's scale and the input property it varies.
WORKLOADS: dict[str, dict] = {
    "mr_corpus": {"docs": 1200, "vocab": 3000, "zipf_s": 1.1, "words": (10, 120),
                  "events": 20000, "users": 1500},
    "dedup_iterative": {"docs": 300, "dup_share": 0.4, "chain_len": 4,
                        "words": (60, 110)},
    "warmup": {"sf": 0.001},
}

TABLES_OF = {
    "mr_corpus": ("documents", "events"),
    "dedup_iterative": ("documents",),
    "warmup": ("lineitem",),
}


def _rng(seed: int, workload: str, table: str) -> np.random.Generator:
    # one independent stream per table
    tag = [ord(c) for c in f"{workload}/{table}"]
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence([seed, *tag])))


def _epoch_us(day: dt.date) -> int:
    return (day - dt.date(1970, 1, 1)).days * 86_400_000_000


def _days(rng, n: int, lo: dt.date, hi: dt.date) -> np.ndarray:
    span = (hi - lo).days
    return _epoch_us(lo) + rng.integers(0, span + 1, n) * 86_400_000_000


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def _warmup(seed: int, p: dict) -> dict[str, dict]:
    """``lineitem`` at scale factor ``sf``, for the fixed warm-up query."""
    n = int(6_000_000 * p["sf"])
    r = _rng(seed, "warmup", "lineitem")
    qty = r.integers(1, 51, n).astype(np.float64)
    return {"lineitem": {
        "l_orderkey": r.integers(0, n // 4, n), "l_partkey": r.integers(0, n // 30, n),
        "l_suppkey": r.integers(0, max(1, n // 600), n),
        "l_linenumber": r.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(r, n, 18.0, 2100.0), 2),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n)],
        "l_shipdate": _days(r, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4))}}


_LETTERS = "abcdefghijklmnopqrstuvwxyzéüñßøåçλжö"
_SEPARATORS = [" "] * 12 + [", ", ". ", "; ", " - ", "! ", " 42 ", " 7 ", "? "]


def _vocabulary(rng, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 9))
        words.add("".join(_LETTERS[i] for i in rng.integers(0, len(_LETTERS), k)))
    out = sorted(words)
    rng.shuffle(out)
    # mixed case, like prose: capitalized variants are distinct keys
    return [w.capitalize() if i % 7 == 3 else w for i, w in enumerate(out)]


def _documents(texts: list[str], rng) -> dict:
    n = len(texts)
    return {"doc_id": np.arange(n), "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i}" for i in rng.integers(0, N_SOURCES, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def _mr_corpus(seed: int, p: dict) -> dict[str, dict]:
    r = _rng(seed, "mr_corpus", "documents")
    vocab = _vocabulary(r, p["vocab"])
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    weights = ranks ** -p["zipf_s"]
    weights /= weights.sum()
    lo, hi = p["words"]
    texts = []
    for n in r.integers(lo, hi + 1, p["docs"]):
        toks = r.choice(len(vocab), size=n, p=weights)
        seps = r.integers(0, len(_SEPARATORS), n - 1)
        parts = [vocab[toks[0]]]
        for t, s in zip(toks[1:], seps):
            parts += [_SEPARATORS[s], vocab[t]]
        texts.append("".join(parts))
    return {"documents": _documents(texts, r), **_events(seed, p)}


def _dedup(seed: int, p: dict) -> dict[str, dict]:
    """Distinct base documents plus near-duplicate families. A family
    is a chain: each member rewrites about one word in fifteen of the
    previous member, so neighbours stay above the 0.6 shingle-Jaccard
    threshold while the chain's ends drift apart. Min-label propagation
    then needs about ``chain_len / 2 + 1`` rounds (three at the default
    four), the same on every seed."""
    r = _rng(seed, "dedup_iterative", "documents")
    lo, hi = p["words"]
    n_docs, chain = p["docs"], p["chain_len"]
    n_dup = int(n_docs * p["dup_share"])
    n_families = max(1, n_dup // chain)
    n_single = n_docs - n_families * chain

    def fresh() -> list[str]:
        return [FIXTURE_WORDS[i] for i in
                r.integers(0, len(FIXTURE_WORDS), int(r.integers(lo, hi + 1)))]

    docs = [fresh() for _ in range(n_single)]
    for _ in range(n_families):
        words = fresh()
        docs.append(words)
        for _ in range(chain - 1):
            words = list(words)
            for i in r.choice(len(words), size=max(1, len(words) // 15), replace=False):
                words[i] = FIXTURE_WORDS[int(r.integers(0, len(FIXTURE_WORDS)))]
            docs.append(words)
    order = r.permutation(len(docs))
    return {"documents": _documents([" ".join(docs[i]) for i in order], r)}


def _events(seed: int, p: dict) -> dict[str, dict]:
    """Events in event_id order with increasing timestamps over 30 days."""
    r = _rng(seed, "events", "events")
    n = p["events"]
    start = _epoch_us(dt.date(2024, 1, 1))
    ts = start + np.sort(r.integers(0, 30 * 86_400_000_000, n))
    return {"events": {
        "event_id": np.arange(n), "ts": ts, "user_id": r.integers(0, p["users"], n),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n)],
        "value": _money(r, n, 0.0, 560.0),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]}}


_GENERATORS = {"mr_corpus": _mr_corpus, "dedup_iterative": _dedup, "warmup": _warmup}


def build_tables(workload: str, seed: int) -> dict[str, pa.Table]:
    """The workload's input tables as Arrow tables, with fixture schemas."""
    cols = _GENERATORS[workload](seed, WORKLOADS[workload])
    return {t: pa.table(cols[t], schema=SCHEMAS[t]) for t in TABLES_OF[workload]}


def write_inputs(workload: str, seed: int, out_dir: str) -> dict[str, int]:
    """Write the workload's tables as ``<out_dir>/<table>.parquet`` (one
    file each, like the fixtures). Returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(workload, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
        rows[name] = table.num_rows
    return rows
