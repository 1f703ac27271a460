"""Seeded input generators. The same seed gives byte-identical files; the
program under test only ever sees these files.

Texts are drawn from a per-seed pseudo-word vocabulary with Zipf word
frequencies; embeddings from a mixture of Gaussians around per-seed
centroids.
"""
from __future__ import annotations

import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEYWORD = "spark"
LANGS = ("en", "de", "fr", "es")
LANG_P = (0.4, 0.2, 0.2, 0.2)
DIM = 64
N_CENTROIDS = 32
ZIPF_A = 1.3  # word frequencies of every generated text


def vocabulary(rng, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words; the word of Zipf rank ``r``
    has ``3 + r % 7`` letters on every seed, so text lengths are
    distributed alike across seeds. None contains the filter keyword, so
    the keyword occurs only where it is planted."""
    letters = np.array(list(string.ascii_lowercase))
    words: list[str] = []
    seen = set()
    while len(words) < n:
        w = "".join(rng.choice(letters, size=3 + len(words) % 7))
        if w not in seen and KEYWORD not in w:
            seen.add(w)
            words.append(w)
    return words


def zipf_ranks(rng, size: int, n: int, a: float) -> np.ndarray:
    """Zipf(a) ranks folded into ``[0, n)``."""
    return (rng.zipf(a, size=size) - 1) % n


def texts(rng, vocab: list[str], n: int, min_len: int, max_len: int,
          a: float = ZIPF_A) -> list[str]:
    lens = rng.integers(min_len, max_len + 1, size=n)
    words = np.array(vocab, dtype=object)
    ranks = zipf_ranks(rng, int(lens.sum()), len(vocab), a)
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(words[ranks[pos:pos + ln]]))
        pos += ln
    return out


def write(table: pa.Table, path: str) -> None:
    """One parquet file with one row group, like the repo's test tables."""
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


# -- semantic_batch ------------------------------------------------------------

def semantic_corpus(seed: int, n_docs: int, repeat_share: float,
                    keyword_share: float, long_share: float, topk_mod: int,
                    path: str) -> dict:
    """``(doc_id, text, lang, n_chars)`` with exact proportions on every
    seed: ``long_share`` of the docs have 26-40 words (always 100 chars or
    more) and the rest 6-9 words (always fewer than 100, keyword
    included); the keyword is planted in ``keyword_share`` of each length
    class; ``repeat_share`` of the docs repeat an earlier doc's text,
    drawn from each (length, keyword) stratum in proportion; languages
    come in the fixed shares ``LANG_P``.

    The docs at ``doc_id % topk_mod == 0`` (the sem_topk slice) get texts
    of distinct lengths, placed so that their ranking by length follows
    one fixed permutation on every seed: the ranking's comparisons, and
    so its LM calls, are the same whatever the seed."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng, 3000)
    n_rep = int(round(n_docs * repeat_share))
    n_unique = n_docs - n_rep
    n_long = int(round(n_unique * long_share))
    uniq = (texts(rng, vocab, n_long, 26, 40)
            + texts(rng, vocab, n_unique - n_long, 6, 9))
    strata = []
    for lo, hi in ((0, n_long), (n_long, n_unique)):
        members = rng.permutation(np.arange(lo, hi))
        n_kw = int(round(len(members) * keyword_share))
        strata += [members[:n_kw], members[n_kw:]]
    for i in strata[0].tolist() + strata[2].tolist():
        toks = uniq[i].split(" ")
        toks.insert(int(rng.integers(0, len(toks) + 1)), KEYWORD)
        uniq[i] = " ".join(toks)
    src = np.concatenate([
        rng.choice(s, size=int(round(n_rep * len(s) / n_unique)), replace=False)
        for s in strata])
    src = rng.permutation(src)
    all_texts = _fix_topk_slice(rng, uniq + [uniq[i] for i in src], topk_mod)
    n = len(all_texts)
    counts = [int(round(n * p)) for p in LANG_P[1:]]
    langs = rng.permutation(np.repeat(LANGS, [n - sum(counts)] + counts))
    write(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(all_texts),
        "lang": pa.array(langs.tolist()),
        "n_chars": pa.array([len(t) for t in all_texts], type=pa.int64()),
    }), path)
    return {"docs": n, "distinct_texts": n_unique}


def _fix_topk_slice(rng, texts_: list[str], mod: int) -> list[str]:
    n = len(texts_)
    slots = list(range(0, n, mod))
    chosen, seen = [], set()
    for j in rng.permutation(n).tolist():
        if len(texts_[j]) not in seen:
            seen.add(len(texts_[j]))
            chosen.append(j)
            if len(chosen) == len(slots):
                break
    if len(chosen) < len(slots):
        raise ValueError("too few distinct text lengths for the sem_topk slice")
    chosen.sort(key=lambda j: len(texts_[j]))
    pattern = np.random.default_rng(0).permutation(len(slots))
    out = list(texts_)
    for r, j in enumerate(chosen):
        out[slots[pattern[r]]] = texts_[j]
    # texts pushed out of the slice take the places the chosen ones left
    vacated = sorted(set(chosen) - set(slots))
    displaced = sorted(set(slots) - set(chosen))
    for v, d in zip(vacated, displaced):
        out[v] = texts_[d]
    return out


# -- index_serving ---------------------------------------------------------------

class IndexCorpus:
    """index_serving's corpus: ``(doc_id, text, embedding)``. Each doc's
    embedding is drawn around one of ``N_CENTROIDS`` per-seed centroids;
    a tenth of the texts are near-copies of another (one word replaced),
    as in a crawl.
    """

    def __init__(self, seed: int, n_docs: int) -> None:
        self.rng = np.random.default_rng([seed, 2])
        self.vocab = vocabulary(self.rng, 4000)
        self.centroids = self.rng.normal(size=(N_CENTROIDS, DIM))
        self.docs = self._new_docs(n_docs)

    def embeddings(self, rng, n: int) -> np.ndarray:
        c = rng.integers(0, N_CENTROIDS, size=n)
        x = self.centroids[c] + 0.35 * rng.normal(size=(n, DIM))
        return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)

    def _new_docs(self, n: int) -> dict:
        txt = texts(self.rng, self.vocab, n, 12, 40)
        for i in self.rng.choice(n, size=n // 10, replace=False):
            toks = txt[int(self.rng.integers(0, n))].split(" ")
            toks[int(self.rng.integers(0, len(toks)))] = self.vocab[
                int(self.rng.integers(0, len(self.vocab)))]
            txt[i] = " ".join(toks)
        return {"doc_id": np.arange(n, dtype=np.int64), "text": txt,
                "embedding": self.embeddings(self.rng, n)}

    @staticmethod
    def table(docs: dict) -> pa.Table:
        emb = docs["embedding"]
        return pa.table({
            "doc_id": pa.array(docs["doc_id"]),
            "text": pa.array(list(docs["text"])),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.reshape(-1)), DIM).cast(pa.list_(pa.float32())),
        })

    def write_snapshot(self, path: str) -> None:
        write(self.table(self.docs), path)

    def next_day(self, rng, added: int, changed: int, removed: int) -> dict:
        """One day's increment: ``removed`` docs leave, ``changed`` docs get
        a new text and embedding, ``added`` docs arrive with fresh ids.
        ``self.docs`` becomes the new snapshot; returns the added docs."""
        docs, n = self.docs, len(self.docs["doc_id"])
        pick = rng.permutation(n)
        gone, moved = pick[:removed], pick[removed:removed + changed]
        fresh = {"text": texts(rng, self.vocab, changed + added, 12, 40),
                 "embedding": self.embeddings(rng, changed + added)}
        text = list(docs["text"])
        emb = docs["embedding"].copy()
        for j, i in enumerate(moved):
            text[i] = fresh["text"][j]
            emb[i] = fresh["embedding"][j]
        keep = np.ones(n, dtype=bool)
        keep[gone] = False
        new_ids = int(docs["doc_id"].max()) + 1 + np.arange(added, dtype=np.int64)
        inc = {"doc_id": new_ids, "text": fresh["text"][changed:],
               "embedding": fresh["embedding"][changed:]}
        self.docs = {
            "doc_id": np.concatenate([docs["doc_id"][keep], new_ids]),
            "text": [t for t, k in zip(text, keep) if k] + inc["text"],
            "embedding": np.concatenate([emb[keep], inc["embedding"]]),
        }
        return inc
