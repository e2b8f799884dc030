"""Expected results that do not come from Spark.

* ``ReadOracle``: DuckDB over the same parquet the table was built from,
  answering every kv_mix read with plain SQL.
* ``OrdersModel``: a client-side numpy model of the orders table that
  applies each kv_mix mutation, so read-your-writes results and the
  final committed state can be checked.
* ``CorpusChecker``: per-pass checks of corpus_curation outputs, computed
  in plain Python where the math is cheap (token counts, exact shingle
  Jaccard, exact-duplicate survivors) plus content hashes that every pass
  must repeat.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import re
from typing import Dict, Iterable, List, Sequence, Tuple

import duckdb
import numpy as np

from gen import COLUMNS, PRIORITIES, STATUSES, ReadOp

EPOCH = dt.datetime(1970, 1, 1)
ONE_US = dt.timedelta(microseconds=1)


def norm_row(values: Sequence) -> tuple:
    """(orderkey, custkey, status, price, date micros, priority) with the
    timestamp as integer micros, so Spark, DuckDB and numpy rows compare."""
    k, c, s, p, d, pr = values
    if isinstance(d, dt.datetime):
        d = (d.replace(tzinfo=None) - EPOCH) // ONE_US
    return (int(k), int(c), s, float(p), int(d), pr)


def norm_rows(rows: Iterable[Sequence]) -> List[tuple]:
    return sorted(norm_row(r) for r in rows)


def same_scalar(got, want) -> bool:
    if got is None or want is None:
        return got is None and want is None
    if isinstance(want, float) or isinstance(got, float):
        return math.isclose(float(got), float(want), rel_tol=1e-9, abs_tol=1e-6)
    return int(got) == int(want)


class ReadOracle:
    """DuckDB answers for kv_mix reads over the source parquet."""

    _AGG_SQL = {
        "agg_sum": "sum(o_totalprice)",
        "agg_avg": "avg(o_totalprice)",
        "agg_max": "max(o_totalprice)",
        "agg_min": "min(o_totalprice)",
        "row_count": "count(*)",
    }

    def __init__(self, parquet_path: str):
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE orders AS SELECT * FROM read_parquet('{parquet_path}')"
        )
        self.cols = ", ".join(COLUMNS)

    def close(self) -> None:
        self.con.close()

    def _rows(self, where: str, params) -> List[tuple]:
        return norm_rows(
            self.con.execute(f"SELECT {self.cols} FROM orders WHERE {where}", params).fetchall()
        )

    def expected(self, op: ReadOp):
        a = op.args
        if op.kind == "get":
            return self._rows("o_orderkey = ?", [a[0]])
        if op.kind == "range_scan":
            return self._rows("o_orderkey >= ? AND o_orderkey < ?", list(a))
        if op.kind == "index_scan":
            if op.variant == "eq":
                return self._rows("o_custkey = ?", list(a))
            if op.variant == "and":
                return self._rows("o_custkey = ? AND o_orderstatus = ?", list(a))
            return self._rows("o_custkey = ? OR o_custkey = ?", list(a))
        if op.kind == "filter_scan":
            return self._rows("o_totalprice >= ? AND o_totalprice < ?", list(a))
        sql = self._AGG_SQL[op.variant]
        return self.con.execute(
            f"SELECT {sql} FROM orders WHERE o_orderkey >= ? AND o_orderkey < ?", list(a)
        ).fetchone()[0]

    def check(self, op: ReadOp, got) -> bool:
        want = self.expected(op)
        if op.kind == "range_agg":
            return same_scalar(got, want)
        return got == want


class OrdersModel:
    """The orders table as numpy columns indexed by the dense rowkey."""

    def __init__(self, cols: dict):
        self.c = {k: v.copy() for k, v in cols.items()}

    @property
    def n(self) -> int:
        return len(self.c["o_orderkey"])

    def rows(self, keys: np.ndarray) -> List[tuple]:
        c = self.c
        return sorted(
            (int(k), int(c["o_custkey"][k]), STATUSES[c["o_orderstatus"][k]],
             float(c["o_totalprice"][k]), int(c["o_orderdate"][k]),
             PRIORITIES[c["o_orderpriority"][k]])
            for k in keys
        )

    def rows_with_custkey(self, cust: int) -> List[tuple]:
        return self.rows(np.nonzero(self.c["o_custkey"] == cust)[0])

    def assign(self, keys: np.ndarray, values: dict) -> None:
        for col, v in values.items():
            self.c[col][keys] = v

    def increment(self, keys: np.ndarray, deltas: dict) -> None:
        for col, d in deltas.items():
            self.c[col][keys] = self.c[col][keys] + d

    def status_is(self, keys: np.ndarray, status: str) -> np.ndarray:
        code = int(np.nonzero(STATUSES == status)[0][0])
        return self.c["o_orderstatus"][keys] == code

    def user_bytes(self, keys: np.ndarray, columns: Sequence[str]) -> int:
        """Logical bytes of ``columns`` for ``keys``: 8 per number or
        timestamp, the length of each string."""
        total = 0
        for col in columns:
            names = {"o_orderstatus": STATUSES, "o_orderpriority": PRIORITIES}.get(col)
            if names is None:
                total += 8 * len(keys)
            else:
                total += int(np.array([len(x) for x in names])[self.c[col][keys]].sum())
        return total


def text_shingles(text: str, n: int = 3) -> frozenset:
    """Distinct n-word shingles; a text shorter than n is one shingle."""
    toks = text.strip().split()
    if len(toks) < n:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def content_hash(rows: Iterable) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


#: the definition of ``text.quality_score``, restated: length score
#: (chars / 200, at most 1), minus twice the punctuation share, minus 0.3
#: when the mean word length is under 2 or over 12, plus a fifth of the
#: stopword share, clipped to [0, 1]
STOPWORDS = frozenset(("the", "a", "of", "and", "to", "in", "is", "it"))
PUNCT = frozenset(".!?,;:")
BPE = re.compile(r"[a-z]+|[0-9]+|[^a-z0-9 ]")


def quality(text: str) -> float:
    toks = text.strip().split()
    n = max(len(toks), 1)
    wordlen = sum(len(t) for t in toks) / n
    score = (
        min(len(text) / 200.0, 1.0)
        - 2.0 * sum(ch in PUNCT for ch in text) / max(len(text), 1)
        - (0.3 if wordlen < 2 or wordlen > 12 else 0.0)
        + 0.2 * sum(t in STOPWORDS for t in toks) / n
    )
    return max(min(score, 1.0), 0.0)


def near_pairs(shingles: Dict[int, frozenset], threshold: float) -> Dict[Tuple[int, int], float]:
    """Every pair (a < b) whose shingle-set Jaccard is at least
    ``threshold``, found exactly through an inverted index."""
    postings: Dict[str, List[int]] = {}
    for i in sorted(shingles):
        for g in shingles[i]:
            postings.setdefault(g, []).append(i)
    shared: Dict[Tuple[int, int], int] = {}
    for ids in postings.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                key = (ids[x], ids[y])
                shared[key] = shared.get(key, 0) + 1
    out = {}
    for (a, b), c in shared.items():
        j = c / (len(shingles[a]) + len(shingles[b]) - c)
        if j >= threshold:
            out[(a, b)] = j
    return out


def remove_spans(ids: Sequence[int], texts: Dict[int, str], k: int) -> Dict[int, str]:
    """Each document with every token cut that is covered by a k-token run
    occurring earlier in (doc id, position) order: what
    ``remove_duplicate_spans`` must return."""
    seen = set()
    out = {}
    for i in sorted(ids):
        toks = texts[i].strip().split()
        covered = set()
        for p in range(len(toks) - k + 1):
            gram = tuple(toks[p:p + k])
            if gram in seen:
                covered.update(range(p, p + k))
            else:
                seen.add(gram)
        out[i] = " ".join(t for p, t in enumerate(toks) if p not in covered)
    return out


def lsh_misses_allowed(jaccards: Iterable[float], n_hashes: int, band_size: int) -> int:
    """How many true pairs a MinHash LSH family of ``n_hashes`` hashes in
    bands of ``band_size`` may miss: a pair of Jaccard j escapes every
    band with probability (1 - j^band_size)^bands; identical shingle sets
    always collide. The allowance is the expected count plus four
    standard deviations plus two."""
    bands = n_hashes // band_size
    mu = sum((1.0 - j ** band_size) ** bands for j in jaccards if j < 1.0)
    return int(mu + 4.0 * math.sqrt(mu) + 2.0)


class CorpusChecker:
    """Independent checks of one curation pass, computed in plain Python
    from the generated corpus: token, BPE-token and quality figures of
    every document, the exact set of 3-shingle near-duplicate pairs, the
    exact clean_corpus keep/drop sets, and the tokens span dedup removes.
    The LSH stages may miss a pair only as often as their hash family
    allows (``lsh_misses_allowed``). On top of that, every stage's
    content hash must repeat the first pass's."""

    def __init__(self, ids: Sequence[int], texts: Sequence[str], dsir_k: int,
                 threshold: float, min_quality: float, span_k: int,
                 clean_lsh: Tuple[int, int], pairs_lsh: Tuple[int, int]):
        """``clean_lsh`` and ``pairs_lsh`` are the (hashes, band size)
        families of clean_corpus and minhash_dedup_pairs."""
        self.texts = dict(zip(ids, texts))
        self.dsir_k = dsir_k
        self.lsh = {"clean_corpus": clean_lsh, "minhash_dedup_pairs": pairs_lsh}
        self.reference: dict = {}
        toks = {i: t.strip().split() for i, t in self.texts.items()}
        self.n_tokens = {i: len(t) for i, t in toks.items()}
        self.n_bpe = {i: len(BPE.findall(t)) for i, t in self.texts.items()}
        self.quality = {i: quality(t) for i, t in self.texts.items()}
        self.pairs = near_pairs({i: text_shingles(t) for i, t in self.texts.items()}, threshold)
        cut = remove_spans(ids, self.texts, span_k)
        # (documents, tokens removed, characters of the returned texts)
        self.spans = (
            len(cut),
            sum(self.n_tokens[i] - len(t.split()) for i, t in cut.items()),
            sum(len(t) for t in cut.values()),
        )
        # clean_corpus, greedy keep: drop low quality, then every exact
        # copy but the lowest id, then every doc with a lower-id partner
        # at or above the threshold among the survivors
        edge = {i for i, q in self.quality.items() if abs(q - min_quality) < 1e-9}
        qualified = {i for i, q in self.quality.items() if q >= min_quality}
        first: Dict[str, int] = {}
        for i in sorted(qualified):
            first.setdefault(" ".join(self.texts[i].lower().split()), i)
        deduped = set(first.values())
        self.clean_pairs = {p: j for p, j in self.pairs.items() if set(p) <= deduped}
        has_lower = {b for _a, b in self.clean_pairs}
        self.must_drop = set(self.texts) - deduped - edge
        self.must_keep = deduped - has_lower - edge
        self.may_drop = has_lower

    def _misses_ok(self, stage: str, missed: int, pairs: Dict[Tuple[int, int], float]) -> bool:
        return missed <= lsh_misses_allowed(pairs.values(), *self.lsh[stage])

    def check(self, stage: str, out) -> bool:
        """``out`` is the stage's collected output; returns the verdict."""
        if stage == "analyze":
            ok = len(out) == len(self.texts) == len({r[0] for r in out}) and all(
                i in self.texts and self.n_tokens[i] == n and self.n_bpe[i] == nb
                and abs(self.quality[i] - q) <= 0.5e-4 + 1e-9
                for i, n, nb, q in out
            )
        elif stage == "clean_corpus":
            ids = [r[0] for r in out]
            kept = set(ids)
            ok = (
                len(ids) == len(kept)
                and kept <= set(self.texts)
                and not kept & self.must_drop
                and self.must_keep <= kept
                and self._misses_ok(stage, len(kept & self.may_drop), self.clean_pairs)
            )
        elif stage == "remove_duplicate_spans":
            ok = tuple(out[:3]) == self.spans
        elif stage == "dsir_select":
            ids = {r[0] for r in out}
            ok = (
                len(out) == self.dsir_k == len(ids)
                and ids <= set(self.texts)
                and all(math.isfinite(w) for _i, w in out)
            )
        else:  # minhash_dedup_pairs
            got = {(a, b): j for a, b, j in out}
            ok = (
                len(got) == len(out)
                and all(p in self.pairs and abs(self.pairs[p] - j) <= 1e-6 for p, j in got.items())
                and all(p in got for p, j in self.pairs.items() if j == 1.0)
                and self._misses_ok(stage, len(self.pairs) - len(got), self.pairs)
            )
        digest = content_hash(out if isinstance(out, list) else [out])
        ref = self.reference.setdefault(stage, digest)
        return ok and digest == ref
