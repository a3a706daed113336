"""Seeded input generator for the benchmark workloads.

Uses numpy and pyarrow only, never ``etl_cli_spark``, so the inputs a
commit is measured on do not depend on that commit's code. The same
``(seed, scale)`` always writes byte-identical files: every random draw
comes from one ``numpy.random.Generator`` per dataset, and every file is
written with fixed pyarrow writer options.

Three datasets:

- ``write_star``: a foreign-key-preserving scale-up of the fixture's star
  schema (region, nation, customer, supplier, part, orders, lineitem),
  one parquet file per table, same column names and types as the fixture.
- ``write_corpus``: a document corpus with planted exact duplicates,
  planted near duplicates, boilerplate spans, a language mix and an
  embedding column, written as one file with few, large row groups.
- ``write_change_stream``: an initial document table plus a stream of
  small change batches (upsert, update, delete, insert) whose keys skew
  towards recently written documents.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WRITE_OPTS = dict(compression="zstd", use_dictionary=True, write_statistics=True)


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per dataset: changing one generator never
    # shifts the draws of another
    return np.random.default_rng([seed, sum(ord(c) << (8 * (i % 4)) for i, c in enumerate(stream))])


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_size, **_WRITE_OPTS)


# ---------------------------------------------------------------------------
# star schema
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class StarSize:
    customers: int
    suppliers: int
    parts: int
    orders: int
    lines_per_order: int = 4


SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PTYPES = np.array(["ECONOMY", "PROMO", "STANDARD", "LARGE", "SMALL", "MEDIUM"])
PNAMES = np.array(["cold widget", "hot widget", "blue gear", "red gear", "steel bolt", "brass nut"])
EPOCH_1992_US = 694224000 * 1_000_000  # 1992-01-01 in microseconds
DAY_US = 86_400 * 1_000_000


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}{k}" for k in keys.tolist()], pa.string())


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_star(root: str, seed: int, size: StarSize) -> dict[str, int]:
    """Write the seven star tables under ``root``; returns rows per table."""
    rng = _rng(seed, "star")
    rk = np.arange(5, dtype=np.int32)
    nk = np.arange(25, dtype=np.int32)
    tables: dict[str, pa.Table] = {
        "region": pa.table({"r_regionkey": rk, "r_name": _names("REGION_", rk)}),
        "nation": pa.table({
            "n_nationkey": nk, "n_name": _names("NATION_", nk),
            "n_regionkey": (nk % 5).astype(np.int32),
        }),
    }
    ck = np.arange(1, size.customers + 1, dtype=np.int64)
    tables["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _names("Customer#", ck),
        "c_nationkey": rng.integers(0, 25, size.customers).astype(np.int32),
        "c_acctbal": _money(rng, size.customers, -999.0, 9999.0),
        "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), size.customers)],
    })
    sk = np.arange(1, size.suppliers + 1, dtype=np.int64)
    tables["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _names("Supplier#", sk),
        "s_nationkey": rng.integers(0, 25, size.suppliers).astype(np.int32),
        "s_acctbal": _money(rng, size.suppliers, -999.0, 9999.0),
    })
    pk = np.arange(1, size.parts + 1, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": PNAMES[rng.integers(0, len(PNAMES), size.parts)],
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 6, size.parts).tolist()]),
        "p_type": PTYPES[rng.integers(0, len(PTYPES), size.parts)],
        "p_size": rng.integers(1, 51, size.parts).astype(np.int32),
        "p_retailprice": _money(rng, size.parts, 900.0, 2100.0),
    })
    ok = np.arange(1, size.orders + 1, dtype=np.int64)
    # as in TPC-H, a third of the customers place no orders (so the
    # anti-join merger mode has rows to return)
    active = ck[ck % 3 != 0]
    odate = EPOCH_1992_US + rng.integers(0, 2400, size.orders) * DAY_US
    tables["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": active[rng.integers(0, len(active), size.orders)],
        "o_orderstatus": STATUSES[rng.integers(0, 3, size.orders)],
        "o_totalprice": _money(rng, size.orders, 800.0, 500000.0),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, size.orders)],
    })
    n_lines = rng.integers(1, 2 * size.lines_per_order, size.orders)
    lok = np.repeat(ok, n_lines)
    n = len(lok)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    qty = rng.integers(1, 51, n).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(1, size.parts + 1, n).astype(np.int64),
        "l_suppkey": rng.integers(1, size.suppliers + 1, n).astype(np.int64),
        "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(np.repeat(odate, n_lines) + rng.integers(1, 122, n) * DAY_US,
                               pa.timestamp("us")),
    })
    out = {}
    for name, t in tables.items():
        _write(t, os.path.join(root, f"{name}.parquet"))
        out[name] = t.num_rows
    return out


# ---------------------------------------------------------------------------
# document corpus
# ---------------------------------------------------------------------------

LANGS = ("en", "de", "fr", "es")
LANG_WEIGHTS = np.array([0.55, 0.15, 0.15, 0.15])
_STOPS = {
    "en": ["the", "and", "of", "to", "that", "is", "with", "be", "have", "this"],
    "de": ["der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich"],
    "fr": ["le", "de", "la", "et", "les", "des", "en", "un", "du", "une"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se", "del", "las"],
}
_STEMS = [
    "data", "table", "stream", "spark", "model", "query", "token", "corpus", "merge",
    "window", "shard", "vector", "index", "batch", "filter", "parquet", "commit",
    "schema", "join", "sketch", "crawl", "label", "score", "metric", "cluster",
]
_SUFFIX = {"en": ["", "s", "ing", "ed"], "de": ["en", "ung", "er", "e"],
           "fr": ["e", "es", "ent", "ion"], "es": ["o", "as", "ado", "ion"]}
BOILERPLATE = (
    "Subscribe to our newsletter for weekly updates and exclusive offers.",
    "All rights reserved. Reproduction without permission is prohibited.",
    "Click here to accept cookies and continue browsing this site.",
)


def _vocab(lang: str) -> list[str]:
    words = [s + x for s in _STEMS for x in _SUFFIX[lang]]
    return _STOPS[lang] + words


def _sentence(rng: np.random.Generator, vocab: list[str], zipf: np.ndarray) -> str:
    n = int(rng.integers(6, 16))
    words = [vocab[i] for i in rng.choice(len(vocab), n, p=zipf).tolist()]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _mutate(rng: np.random.Generator, text: str, vocab: list[str], frac: float) -> str:
    """Replace about ``frac`` of the words of ``text``, at least one (a
    near duplicate). Sentence-final words are kept."""
    lines = [line.split(" ") for line in text.split("\n")]
    slots = [(i, j) for i, words in enumerate(lines) for j in range(len(words) - 1)]
    hit = np.nonzero(rng.random(len(slots)) < frac)[0].tolist() or [int(rng.integers(0, len(slots)))]
    for h in hit:
        i, j = slots[h]
        old = lines[i][j]
        while lines[i][j].lower() == old.lower():
            lines[i][j] = vocab[int(rng.integers(0, len(vocab)))]
    return "\n".join(" ".join(words) for words in lines)


@dataclass(frozen=True)
class CorpusPlan:
    docs: int
    exact_groups: int      # groups of identical documents
    near_groups: int       # groups of lightly edited copies
    dim: int = 32
    row_group: int = 100_000


def write_corpus(path: str, seed: int, plan: CorpusPlan) -> dict:
    """Write the corpus; returns the plant (which ids duplicate which)."""
    rng = _rng(seed, "corpus")
    vocabs = {lg: _vocab(lg) for lg in LANGS}
    zipfs = {}
    for lg, v in vocabs.items():
        w = 1.0 / np.arange(1, len(v) + 1) ** 0.9
        zipfs[lg] = w / w.sum()
    n = plan.docs
    langs = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_WEIGHTS)]
    texts: list[str] = []
    for i in range(n):
        lg = str(langs[i])
        lines = [_sentence(rng, vocabs[lg], zipfs[lg]) for _ in range(int(rng.integers(4, 10)))]
        if rng.random() < 0.3:  # boilerplate span shared across many pages
            lines.append(BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))])
        if rng.random() < 0.1:  # a repeated line (gopher repetition signal)
            lines.append(lines[0])
        texts.append("\n".join(lines))
    centroids = rng.normal(size=(64, plan.dim))
    emb = centroids[rng.integers(0, 64, n)] + rng.normal(scale=0.6, size=(n, plan.dim))

    # plants: pick disjoint (base, copy) ids; copies take the base's
    # text (and language) verbatim or lightly edited, and an embedding
    # within cosine ~0.999 of the base's
    ids = rng.permutation(n)
    exact, near = [], []
    pos = 0
    for kind, groups, out in (("exact", plan.exact_groups, exact), ("near", plan.near_groups, near)):
        for _ in range(groups):
            size = int(rng.integers(2, 4))
            members = sorted(ids[pos:pos + size].tolist())
            pos += size
            base = members[0]
            for m in members[1:]:
                langs[m] = langs[base]
                if kind == "exact":
                    texts[m] = texts[base]
                else:
                    texts[m] = _mutate(rng, texts[base], vocabs[str(langs[base])], 0.03)
                emb[m] = emb[base] + rng.normal(scale=0.002, size=plan.dim)
            out.append(members)
    emb32 = emb.astype(np.float32)
    table = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 17}" for i in range(n)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb32.reshape(-1), plan.dim).cast(
            pa.list_(pa.float32())),
    })
    _write(table, path, row_group_size=plan.row_group)
    return {"exact_groups": exact, "near_groups": near, "docs": n}


# ---------------------------------------------------------------------------
# change stream
# ---------------------------------------------------------------------------

STREAM_CYCLE = ("upsert", "update", "upsert", "delete", "upsert", "insert")


@dataclass(frozen=True)
class StreamPlan:
    initial: int
    batches: int
    batch_rows: int


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    vocab = _vocab("en")
    return [" ".join(vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(20, 40))).tolist())
            for _ in range(n)]


def _doc_rows(rng: np.random.Generator, keys: np.ndarray, texts: list[str], tick: int) -> pa.Table:
    return pa.table({
        "doc_id": keys.astype(np.int64),
        "url": pa.array([f"https://site{k % 97}.example/p/{k}" for k in keys.tolist()]),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, 4, len(keys))].tolist()),
        "score": np.round(rng.uniform(0.0, 1.0, len(keys)), 6),
        "rev": np.full(len(keys), tick, dtype=np.int64),
    })


def _recent(rng: np.random.Generator, live: np.ndarray, k: int) -> np.ndarray:
    """``k`` distinct live keys, skewed towards the most recent ones."""
    order = np.sort(live)[::-1]
    scale = max(len(order) / 20.0, 1.0)
    picks: set[int] = set()
    while len(picks) < min(k, len(order)):
        i = int(min(rng.exponential(scale), len(order) - 1))
        picks.add(int(order[i]))
    return np.array(sorted(picks), dtype=np.int64)


def write_change_stream(root: str, seed: int, plan: StreamPlan) -> list[dict]:
    """Write ``root/initial.parquet`` and ``root/b<i>.parquet``; returns
    each batch's op and planted copies. Ops follow ``STREAM_CYCLE``.
    Keys within one batch are distinct. A tenth of every batch's rows
    carry the verbatim text of an initial document outside the batch
    (planted copies, which a dedup index over the initial load drops)."""
    rng = _rng(seed, "stream")
    live = np.arange(plan.initial, dtype=np.int64)
    next_key = plan.initial
    initial_texts = _texts(rng, plan.initial)
    _write(_doc_rows(rng, live, initial_texts, 0), os.path.join(root, "initial.parquet"))
    batches = []
    for b in range(plan.batches):
        op = STREAM_CYCLE[b % len(STREAM_CYCLE)]
        k = plan.batch_rows
        if op == "upsert":
            new = np.arange(next_key, next_key + k // 4, dtype=np.int64)
            keys = np.concatenate([_recent(rng, live, k - len(new)), new])
        elif op == "insert":
            # a few already-present keys: insert must skip them
            new = np.arange(next_key, next_key + k - k // 10, dtype=np.int64)
            keys = np.concatenate([_recent(rng, live, k // 10), new])
        else:
            new = np.zeros(0, dtype=np.int64)
            keys = _recent(rng, live, k)
        next_key += len(new)
        if op == "delete":
            live = np.setdiff1d(live, keys)
        else:
            live = np.union1d(live, new)
        texts = _texts(rng, len(keys))
        n_copies = len(keys) // 10
        outside = np.setdiff1d(np.arange(plan.initial), keys)
        sources = rng.choice(outside, n_copies, replace=False)
        for j, src in zip(rng.choice(len(keys), n_copies, replace=False).tolist(), sources.tolist()):
            texts[j] = initial_texts[src]
        _write(_doc_rows(rng, keys, texts, b + 1), os.path.join(root, f"b{b:05d}.parquet"))
        batches.append({"batch": b, "op": op, "rows": int(len(keys)), "planted_copies": n_copies})
    return batches
