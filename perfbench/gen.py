"""Seeded input generators and the pure-Python references the checks use.

Everything here is numpy/pyarrow only: inputs are written before the
Spark session starts, and the expected answers are computed from the
same in-memory data, never by the program under test.

Text is lowercase ASCII pseudo-words separated by single spaces, so the
engine's tokenizer (lowercase, accent fold, split on non-word runs)
reduces to ``str.split`` and the references can match it exactly.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_TIPOS = 20

_ONSETS = ["b", "c", "d", "f", "g", "j", "l", "m", "n", "p", "r", "s", "t", "v", "z",
           "br", "cl", "tr", "pl", "gr"]
_VOWELS = ["a", "e", "i", "o", "u", "ia", "ue"]
_CODAS = ["", "", "", "n", "s", "r", "l"]


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct pseudo-words of 2-4 syllables."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n_syl = int(rng.integers(2, 5))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))]
            + _VOWELS[rng.integers(len(_VOWELS))]
            + _CODAS[rng.integers(len(_CODAS))]
            for _ in range(n_syl)
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_weights(n: int, s: float = 1.05, q: float = 2.7) -> np.ndarray:
    w = 1.0 / (np.arange(n) + q) ** s
    return w / w.sum()


def _texts(rng, vocab, weights, n, lo, hi) -> list[str]:
    lens = rng.integers(lo, hi + 1, size=n)
    idx = rng.choice(len(vocab), size=int(lens.sum()), p=weights)
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(vocab[i] for i in idx[pos : pos + ln]))
        pos += ln
    return out


def write_documents(path: str, doc_ids, texts, sources) -> None:
    """The fixture ``documents`` schema (doc_id, text, lang, source, n_chars)."""
    langs = ["es"] * len(texts)
    table = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path)


def write_embeddings(path: str, vec_ids, vectors: np.ndarray, labels) -> None:
    """The fixture ``embeddings`` schema (vec_id, embedding array<float>, label)."""
    table = pa.table(
        {
            "vec_id": pa.array(vec_ids, pa.int64()),
            "embedding": pa.array(
                [list(map(float, v)) for v in vectors.astype(np.float32)],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(table, path)


def clustered_vectors(rng, n: int, n_clusters: int, spread: float):
    """Unit-ish vectors around ``n_clusters`` centres, so anchors have
    neighbours at every slider position instead of cosines near 0."""
    centres = rng.standard_normal((n_clusters, DIM))
    labels = rng.integers(0, n_clusters, size=n)
    vecs = centres[labels] + spread * rng.standard_normal((n, DIM))
    return vecs.astype(np.float32), labels.astype(np.int32)


def similitud_rows(vectors: np.ndarray, rows: np.ndarray) -> np.ndarray:
    """cosine x 100 rounded to 4 digits, as ``compat.graph`` derives
    ``SIMILAR.similitud``, for each row in ``rows`` against every vector
    (float32 inputs widened to float64, like the engine's fold)."""
    v = vectors.astype(np.float64)
    norms = np.sqrt((v * v).sum(axis=1))
    a = v[rows]
    cos = (a @ v.T) / (norms[rows][:, None] * norms[None, :])
    return np.round(cos * 100.0, 4)


# ---- interactive: the reference app's collection and graph ------------------


class Collection:
    """The rulings collection as the reference app sees it, plus the
    answers to every request a session can make."""

    def __init__(self, seed: int, n_docs: int):
        rng = np.random.default_rng([seed, 1])
        self.vocab = vocabulary(rng, 3000)
        weights = zipf_weights(len(self.vocab))
        self.doc_ids = np.arange(n_docs, dtype=np.int64)
        self.texts = _texts(rng, self.vocab, weights, n_docs, 20, 60)
        tipo_w = zipf_weights(N_TIPOS, s=0.8, q=1.0)
        self.sources = [f"src{i}" for i in rng.choice(N_TIPOS, size=n_docs, p=tipo_w)]
        self.vectors, self.labels = clustered_vectors(rng, n_docs, 40, 0.9)
        self.tokens = [t.split() for t in self.texts]
        self.token_sets = [set(t) for t in self.tokens]
        self.padded = [" " + t + " " for t in self.texts]
        self.anio = [2000 + int(i) % 25 for i in self.doc_ids]
        self.providencia = [f"P-{int(i)}" for i in self.doc_ids]
        df = {}
        for s in self.token_sets:
            for t in s:
                df[t] = df.get(t, 0) + 1
        self.doc_freq = df

    def write(self, data_dir: str) -> None:
        write_documents(
            os.path.join(data_dir, "documents.parquet"), self.doc_ids, self.texts, self.sources
        )
        write_embeddings(
            os.path.join(data_dir, "embeddings.parquet"), self.doc_ids, self.vectors, self.labels
        )

    # -- expected answers -----------------------------------------------

    def facet(self, field: str) -> list:
        vals = self.sources if field == "tipo" else self.anio
        return sorted(set(vals))

    def filter_ids(self, field: str, value) -> set[str]:
        vals = {"tipo": self.sources, "anio": self.anio, "providencia": self.providencia}[field]
        return {p for p, v in zip(self.providencia, vals) if v == value}

    def search_ids(self, terms: list[str], phrase: list[str] | None = None) -> set[str]:
        if phrase:
            pat = " " + " ".join(phrase) + " "
            return {p for p, t in zip(self.providencia, self.padded) if pat in t}
        q = set(terms)
        return {p for p, s in zip(self.providencia, self.token_sets) if s & q}

    def find_page(self, tipo: str, limit: int) -> list[tuple[str, int]]:
        rows = [(p, a) for p, a, s in zip(self.providencia, self.anio, self.sources) if s == tipo]
        rows.sort(key=lambda r: (-r[1], r[0]))
        return rows[:limit]

    def count(self, tipo: str, anio_gte: int) -> int:
        return sum(1 for a, s in zip(self.anio, self.sources) if s == tipo and a >= anio_gte)

    def node_ids(self) -> list[str]:
        return sorted(self.providencia)

    def neighbourhood(self, anchor: int, lo: float, hi: float) -> dict[str, float]:
        sims = similitud_rows(self.vectors, np.array([anchor]))[0]
        return {
            self.providencia[j]: float(sims[j])
            for j in range(len(sims))
            if j != anchor and lo <= sims[j] <= hi
        }


# ---- curate: a corpus with planted duplicates --------------------------------


EVAL_ID_BASE = 10_000_000


class Corpus:
    """Base documents plus planted exact duplicates (case/whitespace
    variants), planted near-duplicates (one token replaced) and an eval
    set whose first passages are planted verbatim slices of corpus
    documents."""

    def __init__(self, seed: int, n_base: int, n_exact: int, n_near: int,
                 n_eval: int, n_planted: int, n_vectors: int):
        rng = np.random.default_rng([seed, 2])
        self.vocab = vocabulary(rng, 4000)
        weights = zipf_weights(len(self.vocab))
        texts = _texts(rng, self.vocab, weights, n_base, 40, 80)
        ids = list(range(n_base))
        self.exact_pairs = []  # (original id, duplicate id)
        for k in rng.choice(n_base, size=n_exact, replace=False):
            dup = texts[k].upper() if k % 2 else "  " + texts[k].replace(" ", "   ") + " "
            self.exact_pairs.append((int(k), len(texts)))
            ids.append(len(texts))
            texts.append(dup)
        self.near_pairs = []
        for k in rng.choice(n_base, size=n_near, replace=False):
            toks = texts[k].split()
            j = int(rng.integers(len(toks)))
            toks[j] = self.vocab[(self.vocab.index(toks[j]) + 1 + int(rng.integers(50))) % len(self.vocab)]
            self.near_pairs.append((int(k), len(texts)))
            ids.append(len(texts))
            texts.append(" ".join(toks))
        self.ids = ids
        self.texts = texts
        self.sources = [f"src{i}" for i in rng.integers(0, N_TIPOS, size=len(texts))]
        # eval set: planted passages are verbatim slices, the rest are
        # fresh draws from the same vocabulary
        self.eval_ids, self.eval_texts, self.planted = [], [], []
        hosts = rng.choice(n_base, size=n_planted, replace=False)
        for e in range(n_eval):
            eid = EVAL_ID_BASE + e
            if e < n_planted:
                toks = texts[int(hosts[e])].split()
                a = int(rng.integers(0, len(toks) - 20))
                passage = " ".join(toks[a : a + 20])
                self.planted.append((eid, int(hosts[e])))
            else:
                passage = _texts(rng, self.vocab, weights, 1, 20, 20)[0]
            self.eval_ids.append(eid)
            self.eval_texts.append(passage)
        self.vectors, _ = clustered_vectors(rng, n_vectors, 8, 1.2)
        self.vec_ids = list(range(n_vectors))

    def write(self, data_dir: str) -> None:
        write_documents(os.path.join(data_dir, "documents.parquet"), self.ids, self.texts, self.sources)
        write_documents(
            os.path.join(data_dir, "eval.parquet"),
            self.eval_ids,
            self.eval_texts,
            ["eval"] * len(self.eval_ids),
        )
        write_embeddings(
            os.path.join(data_dir, "embeddings.parquet"),
            self.vec_ids,
            self.vectors,
            [0] * len(self.vec_ids),
        )

    # -- expected answers -----------------------------------------------

    def exact_survivors(self) -> set[int]:
        keep: dict[str, int] = {}
        for i, t in zip(self.ids, self.texts):
            key = " ".join(t.lower().split())
            if key not in keep or i < keep[key]:
                keep[key] = i
        return set(keep.values())

    def shingle_set(self, doc_id: int, n: int = 3) -> set[str]:
        toks = self.texts[doc_id].lower().split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    def jaccard(self, a: int, b: int) -> float:
        sa, sb = self.shingle_set(a), self.shingle_set(b)
        return round(len(sa & sb) / max(len(sa | sb), 1), 6)

    def contained_pairs(self, threshold: float) -> set[tuple[int, int]]:
        """Every (eval passage, corpus document) pair whose unigram
        containment reaches ``threshold`` — the full answer, not just
        the planted pairs."""
        doc_sets = [set(t.lower().split()) for t in self.texts]
        out = set()
        for eid, text in zip(self.eval_ids, self.eval_texts):
            s = set(text.split())
            for did, ds in zip(self.ids, doc_sets):
                if round(len(s & ds) / len(s), 6) >= threshold:
                    out.add((eid, did))
        return out

    def postings(self) -> dict[str, list[int]]:
        out: dict[str, set[int]] = {}
        for i, t in zip(self.ids, self.texts):
            for tok in set(t.lower().split()):
                out.setdefault(tok, set()).add(i)
        return {k: sorted(v) for k, v in out.items()}

    def edges(self, threshold: float) -> dict[tuple[int, int], float]:
        sims = similitud_rows(self.vectors, np.arange(len(self.vectors)))
        src, dst = np.nonzero(sims >= threshold)
        return {
            (int(a), int(b)): float(sims[a, b]) for a, b in zip(src, dst) if a != b
        }


def union_find_components(nodes, pairs) -> int:
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return len({find(n) for n in nodes})


# ---- ingest: Extended-JSON rulings files --------------------------------------


def oid(n: int) -> str:
    """A 24-hex ObjectId that sorts in creation order, as real ObjectIds
    (timestamp-prefixed) do."""
    return f"{n:024x}"


def write_dump_file(path: str, docs) -> None:
    """mongoexport Extended-JSON, one document per line; written to a
    temporary name and renamed so a reader never sees a partial file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        for d in docs:
            fh.write(
                json.dumps(
                    {
                        "_id": {"$oid": d["_id"]},
                        "providencia": d["providencia"],
                        "tipo": d["tipo"],
                        "anio": {"$numberInt": str(d["anio"])},
                        "texto": d["texto"],
                    },
                    separators=(",", ":"),
                )
                + "\n"
            )
    os.replace(tmp, path)


class RulingsFeed:
    """A base collection and a seeded sequence of update files, each
    holding new rulings and corrections (same ``providencia``, newer
    ``_id``, new ``texto``) of existing ones."""

    def __init__(self, seed: int, n_base: int, per_file_new: int, per_file_fix: int):
        self.rng = np.random.default_rng([seed, 3])
        self.vocab = vocabulary(self.rng, 2000)
        self.weights = zipf_weights(len(self.vocab))
        self.n_ids = 0
        self.n_rulings = 0
        self.per_file_new = per_file_new
        self.per_file_fix = per_file_fix
        self.base = self._new_docs(n_base)

    def _doc(self, providencia: str, text: str) -> dict:
        self.n_ids += 1
        return {
            "_id": oid(self.n_ids),
            "providencia": providencia,
            "tipo": f"src{int(self.rng.integers(N_TIPOS))}",
            "anio": 2000 + int(self.rng.integers(25)),
            "texto": text,
        }

    def _new_docs(self, n: int) -> list[dict]:
        texts = _texts(self.rng, self.vocab, self.weights, n, 20, 50)
        out = []
        for t in texts:
            out.append(self._doc(f"P-{self.n_rulings}", t))
            self.n_rulings += 1
        return out

    def next_file(self) -> list[dict]:
        fixes = self.rng.choice(self.n_rulings, size=self.per_file_fix, replace=False)
        texts = _texts(self.rng, self.vocab, self.weights, self.per_file_fix, 20, 50)
        docs = [self._doc(f"P-{int(k)}", "corregida " + t) for k, t in zip(fixes, texts)]
        return docs + self._new_docs(self.per_file_new)
