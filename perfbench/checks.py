"""Output checks. Each returns True when the program's answer is right.

The references here read the index's parquet files with pyarrow and score
them with their own code, so a defect in the program's readers, decoders or
scorers shows up as a mismatch instead of being shared by both sides.
"""

from __future__ import annotations

import math
import os

import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

#: Lucene's BM25 defaults
K1 = 1.2
B = 0.75
SCORE_TOL = 1e-9


def varints(data: bytes) -> list[int]:
    """LEB128 unsigned varints."""
    out, acc, shift = [], 0, 0
    for byte in data:
        acc |= (byte & 0x7F) << shift
        if byte < 0x80:
            out.append(acc)
            acc, shift = 0, 0
        else:
            shift += 7
    return out


def lucene_idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


class BruteForceBM25:
    """Exhaustive Lucene-BM25 over the block postings of a built index."""

    def __init__(self, index_dir: str):
        corpus = pq.read_table(os.path.join(index_dir, "corpus_stats")).to_pylist()[0]
        self.n_docs = int(corpus["n_docs"])
        self.avgdl = float(corpus["avgdl"])
        self._blocks = ds.dataset(os.path.join(index_dir, "blocks"), format="parquet")
        self._doc_map = ds.dataset(os.path.join(index_dir, "doc_map"), format="parquet")

    def postings(self, terms) -> dict[str, dict[int, tuple[int, int]]]:
        """term -> {doc_id: (tf, doc_len)}; absent terms map to {}."""
        terms = sorted(set(terms))
        out: dict[str, dict[int, tuple[int, int]]] = {t: {} for t in terms}
        tbl = self._blocks.to_table(
            columns=["term", "doc_deltas", "tfs", "doc_lens"],
            filter=pc.field("term").isin(terms),
        )
        for row in tbl.to_pylist():
            doc = 0
            plist = out[row["term"]]
            for delta, tf, dl in zip(
                varints(row["doc_deltas"]), varints(row["tfs"]), varints(row["doc_lens"])
            ):
                doc += delta
                plist[doc] = (tf, dl)
        return out

    def scores(self, terms, conjunctive: bool) -> dict[int, float]:
        """doc_id -> BM25 score of the bag of ``terms`` (all required when
        ``conjunctive``)."""
        plists = self.postings(terms)
        if not plists:
            return {}
        if conjunctive:
            docs = set.intersection(*(set(p) for p in plists.values()))
        else:
            docs = set().union(*(set(p) for p in plists.values()))
        out = {}
        for d in docs:
            s = 0.0
            for p in plists.values():
                if d in p:
                    tf, dl = p[d]
                    norm = tf / (tf + K1 * (1 - B + B * dl / self.avgdl))
                    s += lucene_idf(self.n_docs, len(p)) * norm
            out[d] = s
        return out

    def urls(self, doc_ids) -> dict[int, str]:
        ids = sorted(set(doc_ids))
        if not ids:
            return {}
        tbl = self._doc_map.to_table(
            columns=["doc_id", "url"], filter=pc.field("doc_id").isin(ids)
        )
        return dict(zip(tbl.column("doc_id").to_pylist(), tbl.column("url").to_pylist()))


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= SCORE_TOL * max(1.0, abs(b))


def topk_matches(got: list[tuple[int, float]], truth: dict[int, float], k: int) -> bool:
    """``got`` is a correct top-``k`` of ``truth`` (doc -> score): the right
    length, every doc scored as ``truth`` scores it, ranked by score
    descending then doc ascending, with the same score at every rank as the
    exact top-k (so ties at the cut may pick either doc)."""
    want = sorted(truth.items(), key=lambda x: (-x[1], x[0]))[:k]
    if len(got) != len(want) or len({d for d, _ in got}) != len(got):
        return False
    for (d, s), (_, ws) in zip(got, want):
        if d not in truth or not _close(s, truth[d]) or not _close(s, ws):
            return False
    order = [(-truth[d], d) for d, _ in got]
    return all(
        a <= b or _close(-a[0], -b[0]) for a, b in zip(order, order[1:])
    )


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams over single-space tokens."""
    toks = [t for t in text.split(" ") if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def pairs_match(
    found: dict[tuple[int, int], int],
    required: set[tuple[int, int]],
    verify: list[tuple[int, int]],
    shingles: dict[int, set[str]],
    min_common: int,
) -> bool:
    """Near-duplicate pair output ``found`` ((doc_a, doc_b) -> common shingle
    count): every ``required`` pair is present, and each pair in ``verify``
    has exactly its reported count of common shingles, at least
    ``min_common``."""
    if not required <= found.keys():
        return False
    for a, b in verify:
        common = len(shingles[a] & shingles[b])
        if a >= b or common != found[(a, b)] or common < min_common:
            return False
    return True


def build_matches(n_docs: int, df_sum: int, want_docs: int, want_pairs: int) -> bool:
    """An index over ``want_docs`` pages whose ``(term, doc)`` pairs number
    ``want_pairs``."""
    return n_docs == want_docs and df_sum == want_pairs


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
