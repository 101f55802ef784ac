"""Seeded input generator for the benchmark.

Everything the workloads feed the engine is made here from one integer
seed, with numpy's PCG64 stream, so the same seed gives the same bytes
(``fingerprint``) and a change to the engine cannot change its inputs.
It deliberately imports nothing from ``luc4ir_spark``.

The corpus imitates a crawl of source files: rows of
``(doc_id, repo, path, commit, lang, content)`` whose tokens are

- language keywords, present in most files (high df);
- identifiers built from a Zipf-distributed vocabulary of word parts
  (the mid-df body of the vocabulary);
- file-local identifiers with a random hex suffix (df 1, or 2 when the
  file was copied), which give the long identifier tail real code has.

On top of the base files it plants

- near-duplicate files: a copy of another file with one identifier
  renamed (token-set Jaccard >= ``NEAR_DUP_MIN_JACCARD``);
- topics: a few mid/rare identifiers each, written into a handful of
  files whose ids become the topic's qrels (grade 2 when the file
  received every topic term, 1 otherwise, plus a few rel-0 judgments);
- clustered 64-d embeddings, one per file, where each planted
  near-duplicate file's vector is a tiny perturbation of its source's.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass, field

import numpy as np

EMBED_DIM = 64
NEAR_DUP_FRAC = 0.05   # share of the files that are near-duplicate copies
LOCAL_MAX = 1          # file-local identifiers per file: 0..LOCAL_MAX
N_REPOS = 40
N_CLUSTERS = 24        # embedding clusters
NEAR_DUP_MIN_JACCARD = 0.9
# norm of the perturbation between planted near-duplicate embeddings
# (cosine ~0.99995, so hyperplane LSH finds them with near certainty)
NEAR_DUP_NOISE = 0.01

# keywords that are not in the engine's 33-word English stop set, so
# they survive analysis and form the high-df head of the vocabulary
_KEYWORDS = {
    "python": "def return self class import from else elif while try except "
    "raise lambda yield none true false print len range dict list str".split(),
    "java": "public private static final class void return new int long "
    "string null true false extends implements throws catch import".split(),
    "go": "func package import return var const struct interface err nil "
    "defer range make append len string int error go".split(),
    "javascript": "function const let var return new null undefined true "
    "false async await export import require module class".split(),
    "c": "include int char void return struct static const unsigned long "
    "sizeof null typedef define ifdef endif malloc free".split(),
}
_EXT = {"python": "py", "java": "java", "go": "go", "javascript": "js", "c": "c"}
# a few stop words that real code comments carry, so the stop filter
# has work to do (never used as query terms)
_STOP_NOISE = "if for in is not the to of and".split()
_PUNCT = ["(", ")", ":", "=", "{", "}", ";", ","]
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


@dataclass(frozen=True)
class Size:
    """How much to generate."""

    n_docs: int
    n_idents: int          # Zipf identifier vocabulary
    n_topics: int
    n_queries: int


@dataclass
class Corpus:
    doc_id: list[int]
    repo: list[str]
    path: list[str]
    commit: list[str]
    lang: list[str]
    content: list[str]
    tokens: list[list[str]]        # raw lowercase tokens of each file
    near_dups: list[tuple[int, int]]  # planted (a, b), a < b
    embeddings: np.ndarray         # (n_docs, EMBED_DIM) float64, unit rows
    topics: list[tuple[str, str]] = field(default_factory=list)  # (qid, text)
    qrels: list[tuple[str, str, float]] = field(default_factory=list)
    queries: list[tuple[str, str]] = field(default_factory=list)

    def rows(self) -> list[tuple]:
        return list(
            zip(self.doc_id, self.repo, self.path, self.commit, self.lang,
                self.content)
        )

    def content_bytes(self) -> int:
        return sum(len(c.encode("utf-8")) for c in self.content)

    def properties(self) -> dict:
        """Shape of the generated corpus, recorded in the output."""
        df: dict[str, int] = {}
        n_tok = 0
        for toks in self.tokens:
            n_tok += len(toks)
            for t in set(toks):
                df[t] = df.get(t, 0) + 1
        return {
            "docs": len(self.doc_id),
            "tokens": n_tok,
            "vocab": len(df),
            "vocab_df_le_2": sum(1 for v in df.values() if v <= 2),
            "max_df": max(df.values()) if df else 0,
            "bytes": self.content_bytes(),
            "near_dup_pairs": len(self.near_dups),
        }


def _word_parts(rng: np.random.Generator, n: int) -> list[str]:
    # the syllable count cycles with the rank, so every seed's vocabulary
    # has the same length profile (and the corpus about the same bytes)
    parts: list[str] = []
    seen: set[str] = set()
    while len(parts) < n:
        k = 2 + len(parts) % 3
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            parts.append(w)
    return parts


def _zipf_cdf(n: int, s: float = 1.07) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    c = np.cumsum(p / p.sum())
    c[-1] = 1.0
    return c


def _identifiers(parts: list[str], n: int) -> list[str]:
    """``n`` distinct identifiers: bare word parts and, at two ranks in
    five, snake_case pairs (word parts hold no underscore, so no pair
    equals another identifier)."""
    return [
        f"{parts[r]}_{parts[(7 * r + 3) % len(parts)]}" if r % 5 in (1, 3) else parts[r]
        for r in range(n)
    ]


def _file_tokens(rng, lang, idents, cdf) -> list[str]:
    kws = _KEYWORDS[lang]
    n_lines = int(rng.integers(6, 22))
    local = [
        f"{idents[int(rng.integers(0, len(idents)))]}_{int(rng.integers(0, 1 << 24)):06x}"
        for _ in range(int(rng.integers(0, LOCAL_MAX + 1)))
    ]
    toks: list[str] = []
    for _ in range(n_lines):
        toks.append(kws[int(rng.integers(0, len(kws)))])
        for _ in range(int(rng.integers(1, 5))):
            r = rng.random()
            if r < 0.08 and local:
                toks.append(local[int(rng.integers(0, len(local)))])
            elif r < 0.13:
                toks.append(_STOP_NOISE[int(rng.integers(0, len(_STOP_NOISE)))])
            else:
                i = int(np.searchsorted(cdf, rng.random(), side="right"))
                toks.append(idents[i])
    return toks


def _render(rng, toks: list[str]) -> str:
    """Tokens -> code-like text; the punctuation never joins two tokens."""
    out = []
    for i, t in enumerate(toks):
        out.append(t)
        if i + 1 < len(toks):
            r = rng.random()
            if r < 0.15:
                out.append("\n")
            elif r < 0.5:
                out.append(f" {_PUNCT[int(rng.integers(0, len(_PUNCT)))]} ")
            else:
                out.append(" ")
    return "".join(out)


def _jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = set(a), set(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 1.0


def _embeddings(rng, n: int) -> np.ndarray:
    centers = rng.normal(size=(N_CLUSTERS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    assign = rng.integers(0, N_CLUSTERS, n)
    noise = rng.normal(size=(n, EMBED_DIM)) / math.sqrt(EMBED_DIM)
    v = centers[assign] + noise
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def generate(seed: int, size: Size) -> Corpus:
    rng = np.random.default_rng(seed)
    parts = _word_parts(rng, max(size.n_idents, N_REPOS))
    idents = _identifiers(parts, size.n_idents)
    cdf = _zipf_cdf(len(idents))
    langs = list(_KEYWORDS)
    repos = [f"org{i % 7}/{parts[i]}" for i in range(N_REPOS)]
    n = size.n_docs
    n_dup = int(n * NEAR_DUP_FRAC)
    n_base = n - n_dup

    lang = [langs[int(i)] for i in rng.integers(0, len(langs), n)]
    tokens = [_file_tokens(rng, lang[i], idents, cdf) for i in range(n_base)]

    # near-duplicates: copy a base file, rename one identifier occurrence
    # class; keep only copies that stay above the Jaccard floor
    near_dups: list[tuple[int, int]] = []
    src = rng.choice(n_base, size=n_dup, replace=False)
    for j, a in enumerate(src):
        a = int(a)
        toks = list(tokens[a])
        victim = toks[int(rng.integers(0, len(toks)))]
        fresh = f"{victim}_v{int(rng.integers(0, 1 << 20)):05x}"
        toks = [fresh if t == victim else t for t in toks]
        if _jaccard(tokens[a], toks) < NEAR_DUP_MIN_JACCARD:
            toks = list(tokens[a]) + [fresh]
        tokens.append(toks)
        lang[n_base + j] = lang[a]
        near_dups.append((a, n_base + j))

    # topics: 2-4 terms drawn from the mid/rare body of the identifier
    # vocabulary, planted into 4-12 files each
    topics, qrels = [], []
    for t in range(size.n_topics):
        qid = str(401 + t)
        k = int(rng.integers(2, 5))
        terms = [idents[int(i)] for i in rng.integers(40, len(idents), k)]
        targets = rng.choice(n, size=int(rng.integers(4, 13)), replace=False)
        for d in targets:
            d = int(d)
            got = [w for w in terms if rng.random() < 0.8] or terms[:1]
            tokens[d] = tokens[d] + got
            qrels.append((qid, str(d), 2.0 if len(got) == len(terms) else 1.0))
        for d in rng.choice(n, size=3, replace=False):
            if str(int(d)) not in {q[1] for q in qrels if q[0] == qid}:
                qrels.append((qid, str(int(d)), 0.0))
        topics.append((qid, " ".join(terms)))

    # a topic term appended to one file of a near-dup pair can push the
    # pair below the floor; drop such pairs from the planted set
    near_dups = [
        (a, b) for a, b in near_dups
        if _jaccard(tokens[a], tokens[b]) >= NEAR_DUP_MIN_JACCARD
    ]

    emb = _embeddings(rng, n)
    for a, b in near_dups:
        v = emb[a] + rng.normal(size=EMBED_DIM) * NEAR_DUP_NOISE / math.sqrt(EMBED_DIM)
        emb[b] = v / np.linalg.norm(v)

    queries = _queries(rng, tokens, size.n_queries)
    content = [_render(rng, t) for t in tokens]
    return Corpus(
        doc_id=list(range(n)),
        repo=[repos[int(i)] for i in rng.integers(0, len(repos), n)],
        path=[
            f"src/{parts[int(i)]}/{parts[int(j)]}.{_EXT[lg]}"
            for i, j, lg in zip(
                rng.integers(0, len(parts), n), rng.integers(0, len(parts), n),
                lang,
            )
        ],
        commit=[
            hashlib.sha1(f"{seed}:{i}".encode()).hexdigest() for i in range(n)
        ],
        lang=lang,
        content=content,
        tokens=tokens,
        near_dups=near_dups,
        embeddings=emb,
        topics=topics,
        qrels=qrels,
        queries=queries,
    )


def _queries(rng, tokens: list[list[str]], n_queries: int) -> list[tuple[str, str]]:
    """Interactive queries of 1-5 terms, each term drawn from one of three
    document-frequency bands of the realized corpus (high: df > n/10,
    mid: 5 <= df <= n/10, rare: df 2-4). Query q has 1 + q % 5 terms and
    its t-th term comes from band (q + t) % 3, so the i-th query of every
    seed has the same shape."""
    if not n_queries:
        return []
    stop = set(_STOP_NOISE)
    df: dict[str, int] = {}
    for toks in tokens:
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    n = len(tokens)
    vocab = sorted(t for t in df if t not in stop)
    bands = [
        [t for t in vocab if df[t] > n / 10],
        [t for t in vocab if 5 <= df[t] <= n / 10],
        [t for t in vocab if 2 <= df[t] < 5],
    ]
    out = []
    for q in range(n_queries):
        terms = []
        for t in range(1 + q % 5):
            band = bands[(q + t) % 3]
            terms.append(band[int(rng.integers(0, len(band)))])
        out.append((f"q{q}", " ".join(terms)))
    return out


def fingerprint(c: Corpus) -> str:
    """sha256 over every generated input, for the same-seed check."""
    h = hashlib.sha256()
    for row in c.rows():
        h.update(repr(row).encode())
    h.update(repr((c.near_dups, c.topics, c.qrels, c.queries)).encode())
    h.update(np.ascontiguousarray(c.embeddings).tobytes())
    return h.hexdigest()
