"""Seeded inputs for the benchmark.

``write_corpus`` produces the ten corpus tables the registered queries
read, with the column names, parquet dtypes and value domains of the
engine's fixture corpus (FIXTURES.md §B): one single-row-group parquet
file per table, row counts scaled by ``sf`` the same way.
``raw_posts`` produces dirty wire-format Reddit posts (FIXTURES.md §A) for
the ingest workload. Everything is a pure function of ``(seed, sf)``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
MKTSEGS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
ADJ = ["cold", "hot", "small", "large", "old", "new", "red", "blue"]
NOUN = ["widget", "bolt", "rod", "anvil", "ring", "gizmo", "plate", "gear"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_US = 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * _US


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(rng: np.random.Generator, lo: tuple, hi: tuple, n: int) -> pa.Array:
    day = 86_400 * _US
    a, b = _epoch_us(*lo) // day, _epoch_us(*hi) // day
    return pa.array(rng.integers(a, b + 1, n) * day, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng: np.random.Generator, n_tokens: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_tokens))


def corpus_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten corpus tables at scale ``sf``, generated from ``seed``."""
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_li = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, MKTSEGS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    keys = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{ADJ[a]} {NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, len(ADJ), n_part),
                    rng.integers(0, len(NOUN), n_part),
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, (1995, 1, 1), (2001, 8, 1), n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["N", "A", "R"], n_li),
            "l_linestatus": _pick(rng, ["O", "F"], n_li),
            "l_shipdate": _days(rng, (1995, 1, 2), (2001, 11, 4), n_li),
        }
    )
    t0 = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400 * _US, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.minimum(np.round(rng.exponential(50.0, n_ev), 2), 999.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    # Documents: random token strings; ~5% near-duplicates of an earlier
    # document (copy + " dup") and a few exact copies, so the dedup and
    # similarity operators have real clusters to find.
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(_text(rng, int(rng.integers(10, 101))))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    # Embeddings: unit-norm 64-d vectors, weakly clustered by label.
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] * 0.6 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write_corpus(out_dir: str, sf: float, seed: int) -> None:
    """Write the corpus under ``out_dir``, one parquet file per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in corpus_tables(sf, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


#: The raw posts' wire schema (``transforms.posts.RAW_POST_SCHEMA``).
RAW_POST_FIELDS = [
    ("id", pa.string()),
    ("title", pa.string()),
    ("score", pa.string()),
    ("num_comments", pa.string()),
    ("author", pa.string()),
    ("created_utc", pa.float64()),
    ("url", pa.string()),
    ("over_18", pa.string()),
    ("edited", pa.string()),
    ("spoiler", pa.string()),
    ("stickied", pa.string()),
]

#: FIXTURES.md §A golden rows and their cleaned values (the reference's
#: own unit-test cases). They are planted in every raw-post batch.
GOLDEN_POSTS: list[tuple[dict, dict]] = [
    (
        {"id": "golden-12345", "title": "  Messy Title  ", "score": "100",
         "num_comments": None, "author": "some_user",
         "created_utc": 1710000000.0, "over_18": None},
        {"title": "Messy Title", "score": "100", "num_comments": "0",
         "author": "some_user", "created_utc": "2024-03-09T16:00:00+00:00",
         "over_18": "false"},
    ),
    (
        {"id": "golden-123"},
        {"num_comments": "0", "author": "Unknown", "over_18": "false",
         "edited": "false", "spoiler": "false", "stickied": "false"},
    ),
    (
        {"id": "golden-edited-float", "edited": "1710000123.0"},
        {"edited": "false"},
    ),
    (
        {"id": "golden-edited-true", "edited": "true"},
        {"edited": "true"},
    ),
    (
        {"id": "golden-falsy", "score": "", "author": ""},
        {"score": "0", "author": "Unknown"},
    ),
]


def raw_posts(n: int, seed: int) -> pa.Table:
    """``n`` dirty wire-format posts plus the golden rows.

    The dirty-row mix of FIXTURES.md §A: padded titles, numeric strings,
    ``None``/``''`` fields and float-valued ``edited``.
    """
    rng = np.random.default_rng([seed, 7, n])
    cols: dict[str, list] = {name: [] for name, _ in RAW_POST_FIELDS}
    t0 = 1_709_251_200  # 2024-03-01T00:00:00Z
    for i in range(n):
        kind = rng.random()
        pad = " " * int(rng.integers(0, 3))
        cols["id"].append(f"p{i:08d}")
        cols["title"].append(
            None if kind < 0.03 else "" if kind < 0.06
            else pad + _text(rng, int(rng.integers(2, 9))) + pad
        )
        cols["score"].append(
            None if kind < 0.05 else "" if kind < 0.08
            else str(int(rng.integers(0, 50_000)))
        )
        cols["num_comments"].append(
            None if rng.random() < 0.1 else str(int(rng.integers(0, 3000)))
        )
        cols["author"].append(
            None if kind > 0.97 else "" if kind > 0.94
            else f"user{int(rng.integers(0, 5000))}"
        )
        cols["created_utc"].append(
            None if rng.random() < 0.02
            else float(t0 + int(rng.integers(0, 30 * 86_400)))
        )
        cols["url"].append(f"https://reddit.example/r/data/{i}")
        r = rng.random()
        cols["over_18"].append(None if r < 0.3 else "true" if r < 0.35 else "false")
        r = rng.random()
        cols["edited"].append(
            None if r < 0.4 else "false" if r < 0.7 else "true" if r < 0.8
            else f"{t0 + rng.integers(0, 30 * 86_400)}.0"
        )
        r = rng.random()
        cols["spoiler"].append(None if r < 0.5 else "true" if r < 0.52 else "false")
        r = rng.random()
        cols["stickied"].append(None if r < 0.5 else "true" if r < 0.51 else "false")
    for raw, _ in GOLDEN_POSTS:
        for name, _t in RAW_POST_FIELDS:
            cols[name].append(raw.get(name))
    return pa.table(
        {name: pa.array(cols[name], t) for name, t in RAW_POST_FIELDS}
    )


def upsert_batches(raw: pa.Table, seed: int) -> tuple[pa.Table, pa.Table]:
    """An upsert base of post snapshots (version 1, one row per post) and
    an increment: new versions of a tenth of the posts plus a twentieth
    of new posts. Keyed by ``id``, recency ``version``, partitioned by
    day ``ds`` over one week of daily loads."""
    rng = np.random.default_rng([seed, 11])
    n = raw.num_rows
    ids = raw.column("id").to_pylist()
    day0 = dt.date(2024, 3, 1)

    def days(k: int) -> list[dt.date]:
        return [day0 + dt.timedelta(days=int(d)) for d in rng.integers(0, 7, k)]

    base_ds = days(n)
    base = pa.table(
        {
            "id": ids,
            "ds": base_ds,
            "version": pa.array(np.ones(n, dtype=np.int64)),
            "score": pa.array(rng.integers(0, 50_000, n)),
        }
    )
    changed = np.sort(rng.choice(n, n // 10, replace=False))
    n_new = n // 20
    m = len(changed) + n_new
    inc = pa.table(
        {
            "id": [ids[i] for i in changed] + [f"new{i:08d}" for i in range(n_new)],
            "ds": [base_ds[i] for i in changed] + days(n_new),
            "version": pa.array(np.full(m, 2, dtype=np.int64)),
            "score": pa.array(rng.integers(0, 50_000, m)),
        }
    )
    return base, inc
