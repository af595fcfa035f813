"""Seeded input generators for the benchmark workloads.

Every input the program sees is made here from ``--seed``; the same seed
gives byte-identical tables. Nothing is read from outside the checkout.

Sizes and shares (why each was chosen is in perfbench/README.md):

- ``olap``: a TPC-H-shaped star schema plus an ``events`` table at
  ``OLAP_SF`` (the same per-sf row counts as the reference testdata:
  6M lineitem, 1.5M orders, 150k customers, 1M events, 15k users per
  unit sf);
- ``curation``: ``CORPUS_DOCS`` documents whose tokens come from a flat
  head vocabulary plus a per-language Zipf tail (the ``tools/make_sf1.py``
  mixture), with ``NEAR_DUP_SHARE`` near-duplicates, ``EXACT_DUP_SHARE``
  exact duplicates, ``PII_SHARE`` docs carrying contacts, ``LOW_QUALITY_SHARE``
  short or repetitive docs, and ``EMB_VECS`` embeddings with
  ``EMB_COPY_SHARE`` planted exact copies;
- ``stream``: no table at all -- key and value are closed-form integer
  functions of the event id (:func:`stream_key`, :func:`stream_value`).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OLAP_SF = 0.01

# The reference corpus's head vocabulary (the 31 distinct tokens of the
# sf0.1 documents table, the same set tools/make_sf1.py derives at run
# time). Held as a constant so the benchmark reads nothing outside its
# checkout.
HEAD_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
TAIL_WORDS = 600  # per-language Zipf tail, as in tools/make_sf1.py
HEAD_SHARE = 0.6
SOURCES = 20

CORPUS_DOCS = 100
NEAR_DUP_SHARE = 0.10
EXACT_DUP_SHARE = 0.05
PII_SHARE = 0.10
LOW_QUALITY_SHARE = 0.08
HTML_SHARE = 0.05
EMB_VECS = 400
EMB_DIM = 64
EMB_COPY_SHARE = 0.10
EMB_COPY_OFFSET = 100_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1992 = np.datetime64("1992-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    """Exact 2-dp values: integer cents / 100 (the queries' integer-unit
    money plan relies on 2-dp inputs)."""
    return rng.integers(lo_cents, hi_cents + 1, n) / 100.0


def make_olap_tables(out_dir: str, seed: int, sf: float = OLAP_SF) -> dict[str, int]:
    """Write region, nation, customer, orders, lineitem and events
    parquet files; return row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_ev = max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 10)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), out_dir, "region")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
    }), out_dir, "nation")

    custkey = np.arange(1, n_cust + 1, dtype=np.int64)
    _write(pa.table({
        "c_custkey": custkey,
        "c_name": [f"Customer#{k:09d}" for k in custkey],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -99_999, 999_999, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), out_dir, "customer")

    orderkey = np.arange(1, n_ord + 1, dtype=np.int64)
    odate = _EPOCH_1992 + rng.integers(0, 2405, n_ord) * _DAY_US
    _write(pa.table({
        "o_orderkey": orderkey,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 90_000, 50_000_000, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), out_dir, "orders")

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(orderkey, lines)
    l_lineno = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li) * _DAY_US
    _write(pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(1, max(int(200_000 * sf), 10) + 1, n_li),
        "l_suppkey": rng.integers(1, max(int(10_000 * sf), 10) + 1, n_li),
        "l_linenumber": pa.array(l_lineno, pa.int32()),
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": qty * rng.integers(90_000, 200_000, n_li) / 100.0,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ship),
    }), out_dir, "lineitem")

    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev))
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), out_dir, "events")
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_li, "events": n_ev}


def _tail_word(lang: str, rank: int) -> str:
    return f"zq{lang}{rank:04d}"


def _sample_words(rng: np.random.Generator, lang: str, n: int) -> list[str]:
    """Head/tail mixture: a uniform head word with probability
    ``HEAD_SHARE``, else a per-language tail word with Zipf(s~1) rank
    (inverse CDF floor(601^u), as in tools/make_sf1.py)."""
    head = rng.random(n) < HEAD_SHARE
    hw = rng.integers(0, len(HEAD_WORDS), n)
    ranks = np.minimum(TAIL_WORDS, np.floor((TAIL_WORDS + 1.0) ** rng.random(n)).astype(int))
    return [HEAD_WORDS[h] if is_h else _tail_word(lang, r)
            for is_h, h, r in zip(head, hw, ranks)]


def make_corpus(out_dir: str, seed: int, n_docs: int = CORPUS_DOCS) -> dict[str, int]:
    """Write ``documents.parquet`` and ``embeddings.parquet``; return the
    planted counts the checks rely on."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    langs = rng.choice(LANGS, n_docs, p=LANG_P)
    kinds = rng.choice(
        ["plain", "near", "exact", "lowq"],
        n_docs,
        p=[1 - NEAR_DUP_SHARE - EXACT_DUP_SHARE - LOW_QUALITY_SHARE,
           NEAR_DUP_SHARE, EXACT_DUP_SHARE, LOW_QUALITY_SHARE],
    )
    kinds[0] = "plain"
    planted = {"near": 0, "exact": 0, "lowq": 0, "pii": 0, "html": 0}
    for i in range(n_docs):
        kind = kinds[i]
        if kind in ("near", "exact") and i > 0:
            src = texts[int(rng.integers(0, i))].split(" ")
            if kind == "near":
                # replace ~5% of tokens: Jaccard of 3-shingles stays
                # well above the 0.7 verification threshold
                for j in rng.integers(0, len(src), max(1, len(src) // 20)):
                    src[j] = _sample_words(rng, langs[i], 1)[0]
            texts.append(" ".join(src))
            planted[kind] += 1
            continue
        if kind == "lowq":
            w = _sample_words(rng, langs[i], int(rng.integers(3, 8)))
            # either too short, or one short phrase repeated
            text = " ".join(w) if rng.random() < 0.5 else " ".join(w * 8)
            planted["lowq"] += 1
        else:
            text = " ".join(_sample_words(rng, langs[i], int(rng.integers(20, 90))))
        if rng.random() < PII_SHARE:
            text += (f" contact user{i}@example.com or +1 555 000 {i:04d}"
                     f" from 10.0.{i % 256}.7")
            planted["pii"] += 1
        if rng.random() < HTML_SHARE:
            text = f"<p>{text}</p><script>var x = {i};</script>"
            planted["html"] += 1
        texts.append(text)
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{k}" for k in rng.integers(0, SOURCES, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), out_dir, "documents")

    vecs = rng.standard_normal((EMB_VECS, EMB_DIM)).astype(np.float32)
    n_copies = int(EMB_VECS * EMB_COPY_SHARE)
    src_ids = np.sort(rng.choice(EMB_VECS, n_copies, replace=False))
    ids = np.concatenate([np.arange(EMB_VECS), EMB_COPY_OFFSET + src_ids]).astype(np.int64)
    allv = np.concatenate([vecs, vecs[src_ids]])
    _write(pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(allv), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, len(ids)), pa.int32()),
    }), out_dir, "embeddings")
    planted.update(docs=n_docs, vecs=EMB_VECS, vec_copies=n_copies)
    return planted


# -- stream ------------------------------------------------------------------
# Key and value of event ``id`` are closed-form integer functions of the
# id and the seed, so the reference prefix sums are computable without
# storing the stream.
STREAM_KEYS = 1000


def stream_params(seed: int) -> tuple[int, int, int]:
    """(key multiplier, key offset, value multiplier) for a seed. The key
    multiplier is coprime to STREAM_KEYS, so every seed spreads its ids
    over all STREAM_KEYS keys evenly: the key count sets the per-key
    Python work of the stateful operator, and must not vary by seed."""
    rng = np.random.default_rng([seed, 3])
    a = int(rng.integers(1, 1 << 20))
    while math.gcd(a, STREAM_KEYS) != 1:
        a += 1
    return a, int(rng.integers(0, STREAM_KEYS)), int(rng.integers(1, 1 << 16))


def stream_key(ids, seed: int):
    a, b, _ = stream_params(seed)
    return (ids * a + b) % STREAM_KEYS


def stream_value(ids, seed: int):
    _, _, c = stream_params(seed)
    return (ids * c) % 1000 + 1
