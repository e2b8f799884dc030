"""Seeded inputs: the orders table, the documents corpus and the op streams.

Everything here is a pure function of the seed, so two runs with the same
seed see the same table, the same corpus and the same sequence of ops.
The program under test only ever receives what these functions produce.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Dict, Iterator, Tuple

import numpy as np
import pyarrow as pa

# Shapes measured on the sf0.1 ``orders`` and ``documents`` parquet files
# (perfbench/README.md, "Data"): dense order keys 0..149999; 15000
# customers 0..14999 drawn uniformly (orders per customer 1..24, mean 10);
# status and priority uniform; price uniform on 1000..500000; order dates
# 2405 days from 1995-01-01; 5000 documents of 10..100 words drawn
# uniformly from 30 words, 5% of them a copy of another document with
# " dup" appended, 0.16% exact copies, in shuffled order.
ORDER_ROWS = 150_000
CUSTOMERS = 15_000
ORDER_DAYS = 2_405
PRICE_LO, PRICE_HI = 1_000.0, 500_000.0
DOCS = 2_500                  # half of sf0.1: corpus runs are the longest
DOC_WORDS = (10, 100)         # inclusive
NEAR_COPY_SHARE = 0.05
EXACT_COPY_SHARE = 0.0016
LANGS = ("en", "zh", "es", "fr", "de")
LANG_SHARES = (0.41, 0.15, 0.15, 0.15, 0.14)
SOURCES = 20
STATUSES = np.array(["F", "O", "P"], dtype=object)
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object
)
COLUMNS = (
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
)
DATE_LO_US = 788_918_400_000_000      # 1995-01-01 in epoch micros
DAY_US = 86_400_000_000
ZIPF_S = 1.1                          # key skew: repeats for a future cache
BATCH_ROWS = 1_000                    # rows per kv_mix mutation batch
AGG_SPAN = 10_000                     # rows under each range_agg Scan
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def new_orders(rng: np.random.Generator) -> dict:
    """Column arrays of an orders table with dense keys 0..ORDER_ROWS-1.
    Status and priority are kept as codes into STATUSES / PRIORITIES."""
    n = ORDER_ROWS
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, CUSTOMERS, n, dtype=np.int64),
        "o_orderstatus": rng.integers(0, len(STATUSES), n).astype(np.int8),
        "o_totalprice": np.round(rng.uniform(PRICE_LO, PRICE_HI, n), 2),
        "o_orderdate": DATE_LO_US + rng.integers(0, ORDER_DAYS, n, dtype=np.int64) * DAY_US,
        "o_orderpriority": rng.integers(0, len(PRIORITIES), n).astype(np.int8),
    }


def orders_arrow(cols: dict) -> pa.Table:
    """The orders columns as an Arrow table with the sf0.1 parquet types."""
    return pa.table({
        "o_orderkey": pa.array(cols["o_orderkey"], pa.int64()),
        "o_custkey": pa.array(cols["o_custkey"], pa.int64()),
        "o_orderstatus": pa.array(STATUSES[cols["o_orderstatus"]], pa.string()),
        "o_totalprice": pa.array(cols["o_totalprice"], pa.float64()),
        "o_orderdate": pa.array(cols["o_orderdate"], pa.timestamp("us")),
        "o_orderpriority": pa.array(PRIORITIES[cols["o_orderpriority"]], pa.string()),
    })


def new_documents(rng: np.random.Generator) -> pa.Table:
    """A corpus with the shape of sf0.1 ``documents``: originals of 10..100
    words drawn uniformly from VOCAB, NEAR_COPY_SHARE of the documents an
    original with " dup" appended (3-shingle Jaccard (w-2)/(w-1) for w
    words, so 0.89..0.99), EXACT_COPY_SHARE exact copies, all in shuffled
    order so a copy can precede its original."""
    n = DOCS
    n_near = round(n * NEAR_COPY_SHARE)
    n_exact = round(n * EXACT_COPY_SHARE)
    originals = [
        " ".join(rng.choice(VOCAB, int(rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1))))
        for _ in range(n - n_near - n_exact)
    ]
    near = [originals[i] + " dup" for i in rng.choice(len(originals), n_near, replace=False)]
    exact = [originals[i] for i in rng.choice(len(originals), n_exact, replace=False)]
    texts = [(originals + near + exact)[i] for i in rng.permutation(n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_SHARES), pa.string()),
        "source": pa.array([f"src{i % SOURCES}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


class Zipf:
    """Draws indexes 0..n-1 with P(rank r) ~ 1/r^ZIPF_S; ranks map to indexes
    through a seeded permutation so the hot keys are spread over the key
    space instead of clustering at 0."""

    def __init__(self, rng: np.random.Generator, n: int):
        w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** ZIPF_S
        self.cdf = np.cumsum(w / w.sum())
        self.perm = rng.permutation(n)
        self.rng = rng

    def draw(self) -> int:
        r = int(np.searchsorted(self.cdf, self.rng.random(), side="right"))
        return int(self.perm[min(r, len(self.perm) - 1)])


@dataclass
class ReadOp:
    """One kv_mix read. ``kind`` is the op class a latency is
    reported under; ``variant`` the sub-shape; ``args`` its parameters."""

    kind: str
    variant: str
    args: Tuple


#: one block of the read mix as (kind, variant): get 40%, range_scan 20%
#: (10/100/1000 rows), index_scan 25% (equality, AND across both indexes,
#: OR), filter_scan 10%, range_agg 5%. Each block is shuffled, so every 20
#: ops hold exactly this mix, and a run that measures whole blocks
#: measures exactly this mix whatever the seed.
READ_BLOCK = (
    [("get", "point")] * 8
    + [("range_scan", f"rows_{n}") for n in (10, 100, 1000, 100)]
    + [("index_scan", v) for v in ("eq", "and", "or", "eq", "and")]
    + [("filter_scan", "price_window")] * 2
    + [("range_agg", "agg")]
)
AGG_FNS = ("agg_sum", "agg_avg", "agg_max", "agg_min", "row_count")
PRICE_STEP = 1_000                     # filter_scan price window width


def read_ops(seed: int) -> Iterator[ReadOp]:
    """The endless, seeded stream of kv_mix reads."""
    rng = np.random.default_rng([seed, 1])
    keys = Zipf(rng, ORDER_ROWS)
    custs = Zipf(rng, CUSTOMERS)
    prices = Zipf(rng, int(PRICE_HI - PRICE_LO) // PRICE_STEP)
    shuffle = random.Random(seed)
    aggs = 0
    while True:
        block = list(READ_BLOCK)
        shuffle.shuffle(block)
        for kind, v in block:
            if kind == "get":
                yield ReadOp(kind, v, (keys.draw(),))
            elif kind == "range_scan":
                size = int(v.split("_")[1])
                start = min(keys.draw(), ORDER_ROWS - size)
                yield ReadOp(kind, v, (start, start + size))
            elif kind == "index_scan":
                c = custs.draw()
                if v == "eq":
                    args = (c,)
                elif v == "and":
                    args = (c, str(STATUSES[int(rng.integers(0, len(STATUSES)))]))
                else:
                    args = (c, custs.draw())
                yield ReadOp(kind, v, args)
            elif kind == "filter_scan":
                lo = int(PRICE_LO) + prices.draw() * PRICE_STEP
                yield ReadOp(kind, v, (lo, lo + PRICE_STEP))
            else:
                fn = AGG_FNS[aggs % len(AGG_FNS)]
                aggs += 1
                start = int(rng.integers(0, ORDER_ROWS - AGG_SPAN))
                yield ReadOp(kind, fn, (start, start + AGG_SPAN))


#: the write mix, repeated: put 70%, delete+re-insert 10%, increment 10%,
#: check_and_put 10%. The order is fixed and every verb comes in the first
#: four, so every run measures every verb, every seed measures the same
#: verbs, and the seed only changes the keys and values. The puts come
#: last: a commit keeps getting faster over a JVM's first commits, and
#: the put carries most of the weight.
WRITE_BLOCK = (
    "delete_reinsert", "increment", "check_and_put", "put",
    "put", "put", "put", "put", "put", "put",
)


def write_verbs() -> Iterator[str]:
    while True:
        yield from WRITE_BLOCK


def shares(kinds) -> Dict[str, float]:
    """Each kind's share of a block of kinds."""
    kinds = list(kinds)
    return {k: kinds.count(k) / len(kinds) for k in dict.fromkeys(kinds)}


def mix_class(kind: str, variant: str) -> str:
    """The class a read is weighted under in ``mix_p50_ms``: its kind and
    variant, since the variants of a kind differ in cost (a 1000-row range
    against a 10-row one, an OR of two index lookups against one) and the
    median of a mixed class jumps between them. The five aggregate
    functions share one class: a run holds only two or three range_aggs."""
    return kind if kind == "range_agg" else f"{kind}/{variant}"


#: the designed mix of one kv_mix round, a read block then one write
#: transaction: the weights of its ``mix_p50_ms``. Reads and commits each
#: hold about half of the weighted sum.
READ_MIX = shares(mix_class(kind, v) for kind, v in READ_BLOCK)
WRITE_MIX = shares(WRITE_BLOCK)
ROUND = len(READ_BLOCK) + 1
KV_MIX = {
    **{k: w * len(READ_BLOCK) / ROUND for k, w in READ_MIX.items()},
    **{k: w / ROUND for k, w in WRITE_MIX.items()},
}
