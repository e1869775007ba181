"""Seeded input generator for the three benchmark workloads.

Every table is synthesized from ``numpy.random.default_rng`` keyed by
the seed (and, for ingest micro-batches, by the batch number), with the
schemas and value domains of the package's fixture tables, so the same
seed always yields byte-identical parquet files. The package under test
only ever sees the written files.

Sizes and shares are module constants so that ``BENCHMARK.json`` and
``perfbench/README.md`` can quote them:

* ``bi_mix``: a TPC-H-shaped star schema at about scale factor 0.1
  plus the ``events`` table (:data:`STAR_ROWS`).
* ``corpus_dedup``: :data:`CORPUS_DOCS` documents and an embeddings
  table, with the text distribution of the package's fixture
  (:data:`FIXTURE_CORPUS`) and the exact-duplicate, near-duplicate,
  hot-boilerplate and near-duplicate-vector shares of
  :data:`CORPUS_SHARES`.
* ``ingest_merge``: an initial events table and a stream of
  micro-batches with update, in-batch duplicate and late-row shares
  (:data:`INGEST_SHARES`).
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "events": 100_000,
}
#: zipf exponent of order→customer and event→user foreign keys
STAR_FK_ZIPF = 1.2

#: what the package's 5,000-document fixture (``documents.parquet`` and
#: ``embeddings.parquet`` of the sf0.1 test data) measured: a uniform
#: 31-word vocabulary, uniform lengths of 10..100 words, the share of
#: documents that repeat an earlier one exactly and that have an earlier
#: one at word-trigram Jaccard >= 0.3 (all are one word appended or
#: dropped), no phrase shared by more than 20 documents, and random
#: unit vectors whose nearest same-label neighbour has cos <= 0.51
FIXTURE_CORPUS = {"docs": 5_000, "vocab": 31, "words": (10, 100),
                  "exact_dup": 0.0016, "near_dup": 0.048, "boilerplate": 0.0,
                  "vecs": 2_000, "vec_near_dup": 0.0}

#: below the fixture's 5,000 so that a run, with its one cold job and
#: the DuckDB oracles, stays near 45 s on 4 cores
CORPUS_DOCS = 4_000
CORPUS_VECS = 2_000
#: exact and near shares follow the fixture; boilerplate and near-dup
#: vectors are absent from it and are added so that the hot-bucket and
#: semantic-dedup paths have work
CORPUS_SHARES = {"exact_dup": 0.002, "near_dup": 0.05, "boilerplate": 0.05,
                 "vec_near_dup": 0.05}
DOC_WORDS = FIXTURE_CORPUS["words"]

INGEST_INITIAL_ROWS = 20_000
INGEST_BATCH_ROWS = 1_000
INGEST_SHARES = {"update": 0.25, "in_batch_dup": 0.05, "late": 0.05}
#: events per simulated day in the ingest stream (new rows advance the clock)
INGEST_ROWS_PER_DAY = 4_000

_DAY_US = 86_400 * 1_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
#: language mix of the fixture's documents
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
#: the fixture's vocabulary, less ``dup``, which only its near copies carry
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
BOILERPLATE = (
    "subscribe to our newsletter for more data engineering tips cookie "
    "policy terms of service all rights reserved"
).split()


def _ts_us(day0: str) -> int:
    d = np.datetime64(day0, "us")
    return int(d.astype("int64"))


def _ts_array(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _zipf_index(rng: np.random.Generator, n_items: int, size: int,
                s: float) -> np.ndarray:
    """Zipf-distributed indices in [0, n_items) with a seeded rank→item
    permutation, so hot keys are not simply the smallest ids."""
    ranks = np.arange(1, n_items + 1, dtype=np.float64)
    p = ranks ** -s
    p /= p.sum()
    perm = rng.permutation(n_items)
    return perm[rng.choice(n_items, size=size, p=p)]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path + ".tmp", row_group_size=1 << 20)
    os.replace(path + ".tmp", path)


# ---------------------------------------------------------------------------
# bi_mix: star schema
# ---------------------------------------------------------------------------

def star_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n = STAR_ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
    })
    no = n["orders"]
    day0 = _ts_us("1995-01-01")
    span_days = 2403  # 1995-01-01 .. 2001-08-01
    odays = rng.integers(0, span_days + 1, no)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(_zipf_index(rng, nc, no, STAR_FK_ZIPF), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts_array(day0 + odays * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    lines_per = rng.integers(1, 8, no)
    nl = int(lines_per.sum())
    okeys = np.repeat(np.arange(no), lines_per)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    linenos = np.arange(nl) - starts + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    rf = rng.integers(0, 3, nl)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenos, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rf],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_array(
            day0 + (np.repeat(odays, lines_per) + rng.integers(1, 121, nl))
            * _DAY_US),
    })
    out["events"] = events_table(rng, 0, n["events"], _ts_us("2024-01-01"),
                                 30 * _DAY_US)
    return out


def events_table(rng: np.random.Generator, first_id: int, n: int,
                 ts_lo_us: int, ts_span_us: int,
                 users: int = 1_500) -> pa.Table:
    ts = ts_lo_us + np.sort(rng.integers(0, ts_span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts_array(ts),
        "user_id": pa.array(_zipf_index(rng, users, n, STAR_FK_ZIPF), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _money(rng, 0.0, 560.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


# ---------------------------------------------------------------------------
# corpus_dedup: documents + embeddings
# ---------------------------------------------------------------------------

def corpus_tables(seed: int) -> dict[str, pa.Table]:
    """Documents and embeddings shaped like the package's fixture
    (see :data:`FIXTURE_CORPUS`): uniform words from its vocabulary,
    uniform lengths, its language mix, and near copies made its way (an
    earlier document with ``dup`` appended or its last word dropped).
    On top of the fixture's own shares come the hot boilerplate and the
    near-duplicate vectors of :data:`CORPUS_SHARES`."""
    rng = np.random.default_rng([seed, 2])
    n = CORPUS_DOCS
    sh = CORPUS_SHARES
    vocab = np.array(VOCAB)
    lo, hi = DOC_WORDS
    texts: list[str] = []
    kinds = rng.choice(
        4, size=n,
        p=[1 - sh["exact_dup"] - sh["near_dup"] - sh["boilerplate"],
           sh["exact_dup"], sh["near_dup"], sh["boilerplate"]],
    )
    for i in range(n):
        kind = kinds[i] if i >= 16 else 0  # copies need earlier originals
        if kind == 1:  # exact copy of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if kind == 2:  # near copy: one word appended or dropped at the end
            words = texts[int(rng.integers(0, i))].split()
            words = words + ["dup"] if rng.random() < 0.5 else words[:-1]
            texts.append(" ".join(words))
            continue
        words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(lo, hi + 1)))])
        if kind == 3:  # shared hot boilerplate paragraph appended
            words += BOILERPLATE
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{s}" for s in np.arange(n) % 20],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    m = CORPUS_VECS
    dim = 64
    labels = rng.integers(0, 10, m)
    vecs = rng.normal(0.0, 1.0, (m, dim))
    dup = rng.random(m) < sh["vec_near_dup"]
    for i in np.nonzero(dup)[0]:
        if i == 0:
            continue
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] / np.linalg.norm(vecs[j]) + rng.normal(0.0, 0.02, dim)
        labels[i] = labels[j]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"documents": docs, "embeddings": emb}


# ---------------------------------------------------------------------------
# ingest_merge: initial table + micro-batch stream
# ---------------------------------------------------------------------------

class IngestStream:
    """Deterministic micro-batch generator. Batch ``i`` depends only on
    the seed and on batches ``< i``: new events advance a simulated
    clock, updates rewrite the type/value/props of existing keys
    (pareto-skewed towards the newest, so they touch few day
    partitions), late rows are new events stamped up to three days in
    the past, and in-batch duplicates are exact re-deliveries of rows
    of the same batch. Updates keep the key's ``ts`` and ``user_id``."""

    def __init__(self, seed: int):
        self.seed = seed
        self.t0 = _ts_us("2024-03-01")
        self.batch_no = 0
        self.ts = np.zeros(0, np.int64)
        self.user = np.zeros(0, np.int64)

    def _clock_us(self, n_events: int) -> int:
        return self.t0 + n_events * _DAY_US // INGEST_ROWS_PER_DAY

    def _remember(self, t: pa.Table) -> pa.Table:
        self.ts = np.concatenate([self.ts, t["ts"].cast(pa.int64()).to_numpy()])
        self.user = np.concatenate([self.user, t["user_id"].to_numpy()])
        return t

    def initial(self) -> pa.Table:
        rng = np.random.default_rng([self.seed, 3, 0])
        n = INGEST_INITIAL_ROWS
        return self._remember(
            events_table(rng, 0, n, self.t0, self._clock_us(n) - self.t0))

    def next_batch(self) -> pa.Table:
        self.batch_no += 1
        rng = np.random.default_rng([self.seed, 3, self.batch_no])
        sh = INGEST_SHARES
        b = INGEST_BATCH_ROWS
        n_dup = int(b * sh["in_batch_dup"])
        n_upd = int(b * sh["update"])
        n_late = int(b * sh["late"])
        n_new = b - n_dup - n_upd - n_late
        n_old = len(self.ts)
        age = np.unique(np.floor(rng.pareto(1.0, 4 * n_upd) * 300).astype(np.int64))
        age = rng.permutation(age[age < n_old])[:n_upd]
        upd_ids = n_old - 1 - age
        upd = pa.table({
            "event_id": pa.array(upd_ids, pa.int64()),
            "ts": _ts_array(self.ts[upd_ids]),
            "user_id": pa.array(self.user[upd_ids], pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, len(upd_ids))],
            "value": _money(rng, 0.0, 560.0, len(upd_ids)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, len(upd_ids))],
        })
        now = self._clock_us(n_old)
        new = self._remember(events_table(
            rng, n_old, n_new, now, self._clock_us(n_old + n_new) - now))
        late = self._remember(events_table(
            rng, n_old + n_new, n_late, now - 3 * _DAY_US, 3 * _DAY_US))
        rows = pa.concat_tables([new, late, upd])
        rows = pa.concat_tables([rows, rows.take(rng.integers(0, rows.num_rows, n_dup))])
        return rows.take(rng.permutation(rows.num_rows))


#: changes whenever this file does, so inputs cached by an older
#: generator are never reused
CODE_KEY = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:12]


def _write_once(out_dir: str, make) -> str:
    """Write the tables ``make()`` returns, one parquet file each, unless
    ``out_dir`` is already complete: its name carries the seed and
    :data:`CODE_KEY`. Returns the directory."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, t in make().items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
    return out_dir


def write_tables(seed: int, work: str) -> str:
    """The star schema and the corpus: the package's catalog registers
    all ten tables together."""
    return _write_once(os.path.join(work, "inputs", f"tables_{seed}_{CODE_KEY}"),
                       lambda: {**star_tables(seed), **corpus_tables(seed)})


def write_corpus(seed: int, work: str) -> str:
    return _write_once(os.path.join(work, "inputs", f"corpus_{seed}_{CODE_KEY}"),
                       lambda: corpus_tables(seed))
