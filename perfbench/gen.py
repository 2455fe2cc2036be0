"""Seeded input generators for the benchmark.

Every input a workload feeds the program is made here from the run's seed:
the code corpus, the documents table built from the same texts, the query
stream, and the chain of recrawl deltas with its fixed query batch. Outputs are
cached on disk by (seed, size) so that generating them never counts
towards a timed metric.

The vocabulary is alphabetic on purpose. The compat tokenizer strips every
character outside ``[a-z\\s]``, so ``t01234``-style terms would index as
nothing, and a few dozen words would make term-level pruning degenerate.
"""

from __future__ import annotations

import functools
import hashlib
import os
import pickle

import numpy as np
import pandas as pd

from searchengine_spark.functions.textproc import STOPWORDS

VERSION = 5  # part of the cache key: bump when any generator changes
VOCAB_SIZE = 50_000
ZIPF_S = 1.0
_LANG_EXT = {"python": "py", "java": "java", "js": "js", "md": "md", "txt": "txt"}
_LANGS = list(_LANG_EXT)
_CODE_HOT = ["return", "import", "def", "class", "self"]
_SUFFIXES = ["ing", "ed", "s"]
_CONS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"
_PUNCT = ["();", "[0],", "{x}!", ".y:", "?"]


@functools.lru_cache(maxsize=1)
def vocabulary(size: int = VOCAB_SIZE) -> tuple[str, ...]:
    """Zipf-ranked word list, the same for every seed. Stopwords and the
    code keywords take the hottest ranks; one word in eight is followed by
    its ``-ing``/``-ed``/``-s`` form, which exercises both stemmers."""
    rng = np.random.default_rng(20_240_601)
    m = 2 * size
    cons = rng.integers(0, len(_CONS), size=(m, 4)).tolist()
    vows = rng.integers(0, len(_VOWELS), size=(m, 3)).tolist()
    n_syl = rng.integers(2, 4, size=m).tolist()
    tail = (rng.random(m) < 0.5).tolist()
    suffix = rng.integers(-21, 3, size=m).tolist()  # >= 0 picks a suffix
    words = sorted(STOPWORDS) + _CODE_HOT
    seen = set(words)
    for i in range(m):
        w = "".join(_CONS[cons[i][j]] + _VOWELS[vows[i][j]] for j in range(n_syl[i]))
        if tail[i]:
            w += _CONS[cons[i][3]]
        for v in (w, w + _SUFFIXES[suffix[i]] if suffix[i] >= 0 else None):
            if v is not None and v not in seen:
                seen.add(v)
                words.append(v)
        if len(words) >= size:
            break
    return tuple(words[:size])


def _zipf_probs(n: int) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -ZIPF_S
    return p / p.sum()


def _bodies(rng: np.random.Generator, n: int) -> list[list[str]]:
    """``n`` word lists of 80-160 Zipf-drawn words."""
    vocab = np.array(vocabulary())
    lens = rng.integers(80, 161, size=n)
    flat = vocab[rng.choice(len(vocab), size=int(lens.sum()), p=_zipf_probs(len(vocab)))]
    offsets = np.concatenate([[0], np.cumsum(lens)])
    return [flat[offsets[i] : offsets[i + 1]].tolist() for i in range(n)]


def code_corpus(seed: int, n_docs: int) -> pd.DataFrame:
    """Corpus in the ``(repo, path, commit, lang, content)`` input shape:
    Zipf body text, two import lines per source file (the PageRank edge
    graph), markdown headings, and about 2 % exact duplicate contents."""
    rng = np.random.default_rng(seed)
    bodies = _bodies(rng, n_docs)
    rows = []
    for i in range(n_docs):
        body = bodies[i]
        for _ in range(int(rng.integers(0, 3))):
            j = int(rng.integers(0, len(body)))
            body[j] += _PUNCT[int(rng.integers(0, len(_PUNCT)))]
        repo = f"org{i % 7}/repo{i % 23}"
        if i % 17 == 0:
            lang, path = "md", f"docs/guide{i}.md"
            head = [f"# {body[0]} {body[1]}", f"## {body[2]}"]
        else:
            lang = _LANGS[i % 4]
            path = f"src/pkg{i % 11}/mod{i}.{_LANG_EXT[lang]}"
            tgts = rng.integers(0, n_docs, size=2)
            head = [f"import pkg{t % 11}.mod{t}" for t in tgts]
        commit = hashlib.sha1(f"{seed}/{repo}/{path}".encode()).hexdigest()
        rows.append((repo, path, commit, lang, "\n".join(head + [" ".join(body)])))
    for d in range(max(1, n_docs // 50)):
        src = rows[int(rng.integers(0, n_docs))]
        repo, path = f"org{d % 7}/dup{d % 5}", f"src/dup/copy{d}.txt"
        commit = hashlib.sha1(f"{seed}/{repo}/{path}".encode()).hexdigest()
        rows.append((repo, path, commit, src[3], src[4]))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


def documents(corpus: pd.DataFrame) -> pd.DataFrame:
    """The same texts as ``(doc_id, text)``, the documents-table columns
    that the segment rewrite reads."""
    return pd.DataFrame(
        {"doc_id": np.arange(len(corpus), dtype=np.int64), "text": corpus["content"].tolist()}
    )


# FIXTURES.md §2 query kinds in a fixed rotation, so each kind has the same
# share of the stream. A run times whole rotations, so its median is always
# taken over every kind in equal shares.
QUERY_CYCLE = [
    "term", "phrase", "no_hit", "multi_term", "hot_term", "stopword_heavy", "stem_quirk",
]
# Vocabulary rank bands the query words come from. A query's cost follows
# its words' document frequency, so narrow bands keep each kind's cost, and
# with it a run's median, the same from seed to seed.
MID_RANKS = (200, 400)
HOT_RANKS = (20, 30)


def _word(vocab: tuple[str, ...], rng: np.random.Generator, lo: int, hi: int) -> str:
    """A vocabulary word with rank in [lo, hi), excluding stopwords."""
    while True:
        w = vocab[int(rng.integers(lo, hi))]
        if w not in STOPWORDS:
            return w


def _phrase(corpus: pd.DataFrame, rng: np.random.Generator, rank: dict[str, int]) -> str:
    """Two adjacent words of a random document's body, both of rank at
    least ``MID_RANKS[0]``, as a quoted phrase."""
    while True:
        text = corpus["content"].iloc[int(rng.integers(0, len(corpus)))]
        body = text.split("\n")[-1].split()
        pairs = [
            (a, b) for a, b in zip(body, body[1:])
            if rank.get(a, -1) >= MID_RANKS[0] and rank.get(b, -1) >= MID_RANKS[0]
        ]
        if pairs:
            a, b = pairs[int(rng.integers(0, len(pairs)))]
            return f'"{a} {b}"'


def query_stream(seed: int, corpus: pd.DataFrame, n: int) -> list[tuple[str, str]]:
    """``(kind, query)`` pairs in the FIXTURES.md §2 kinds, in the fixed
    rotation above. Words are drawn from rank bands of a few hundred words,
    so few queries repeat."""
    rng = np.random.default_rng(seed + 1)
    vocab = vocabulary()
    rank = {w: i for i, w in enumerate(vocab)}
    suffixed = [w for w in vocab[MID_RANKS[0] : 4 * MID_RANKS[1]] if w.endswith(("ing", "ed"))]
    out = []
    for i in range(n):
        kind = QUERY_CYCLE[i % len(QUERY_CYCLE)]
        if kind == "term":
            q = _word(vocab, rng, *MID_RANKS)
        elif kind == "multi_term":
            q = f"{_word(vocab, rng, *MID_RANKS)} {_word(vocab, rng, *MID_RANKS)}"
        elif kind == "phrase":
            q = _phrase(corpus, rng, rank)
        elif kind == "no_hit":
            q = "zq" + "".join(rng.choice(list(_VOWELS + _CONS), size=6))
        elif kind == "stopword_heavy":
            q = f"the {_word(vocab, rng, *MID_RANKS)} of it and"
        elif kind == "hot_term":
            q = _word(vocab, rng, *HOT_RANKS)
        else:
            q = suffixed[int(rng.integers(0, len(suffixed)))]
        out.append((kind, q))
    return out


def delta_chain(seed: int, n_docs: int, n_deltas: int, frac: float = 0.01) -> list[dict]:
    """Recrawl deltas over ``documents`` ids: each touches about ``frac``
    of the docs, split evenly into removed, changed and added, and the
    deltas alternate between one clustered id window and scattered ids.
    Each delta is ``{"removed": [...], "changed": [...], "added": [...]}``;
    added ids continue past every id used so far."""
    rng = np.random.default_rng(seed + 3)
    live = np.arange(n_docs, dtype=np.int64)
    next_id = n_docs
    out = []
    for _ in range(n_deltas):
        m = max(3, int(n_docs * frac)) // 3
        if len(out) % 2 == 0:
            start = int(rng.integers(0, len(live) - 2 * m))
            touched = live[start : start + 2 * m]
        else:
            touched = rng.choice(live, size=2 * m, replace=False)
        touched = rng.permutation(touched)
        removed, changed = np.sort(touched[:m]), np.sort(touched[m:])
        added = np.arange(next_id, next_id + m, dtype=np.int64)
        next_id += m
        live = np.sort(np.concatenate([np.setdiff1d(live, removed), added]))
        out.append({"removed": removed.tolist(), "changed": changed.tolist(), "added": added.tolist()})
    return out


def delta_frame(delta: dict) -> pd.DataFrame:
    """The crawler's changed-doc list: ``(doc_id, status)``."""
    rows = [(i, s) for s in ("removed", "changed", "added") for i in delta[s]]
    return pd.DataFrame(rows, columns=["doc_id", "status"]).astype({"doc_id": "int64"})


def apply_delta(snap: pd.DataFrame, delta: dict, seed: int) -> pd.DataFrame:
    """The ``(doc_id, text)`` snapshot after ``delta``: removed docs gone,
    changed docs with new text, added docs appended."""
    rng = np.random.default_rng(seed)
    changed, added = delta["changed"], delta["added"]
    texts = [" ".join(b) for b in _bodies(rng, len(changed) + len(added))]
    out = snap[~snap["doc_id"].isin(delta["removed"])].copy()
    new_text = dict(zip(changed, texts))
    mask = out["doc_id"].isin(changed)
    out.loc[mask, "text"] = out.loc[mask, "doc_id"].map(new_text)
    fresh = pd.DataFrame({"doc_id": np.array(added, dtype=np.int64), "text": texts[len(changed) :]})
    return pd.concat([out, fresh], ignore_index=True)


def reindex_queries(seed: int) -> list[list[str]]:
    """The fixed query batch run after every delta, in the simple
    tokenizer's terms: a mid-frequency term and a pair of hotter terms."""
    rng = np.random.default_rng(seed + 4)
    vocab = vocabulary()
    pair = sorted({_word(vocab, rng, 20, 400) for _ in range(2)})
    return [[_word(vocab, rng, 50, 3000)], pair]


def cached(cache_dir: str, name: str, make):
    """Return ``make()``, pickled under ``cache_dir/name`` after the first
    call. Only files this module wrote are ever unpickled."""
    path = os.path.join(cache_dir, name + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    value = make()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(value, f, protocol=pickle.HIGHEST_PROTOCOL)
    os.replace(tmp, path)
    return value
