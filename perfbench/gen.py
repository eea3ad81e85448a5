"""Seeded, partition-independent input generator for the benchmark.

Every value is a pure function of ``(seed, doc index, token position,
version)`` through a splitmix64 hash, never of RNG state, so any split of
the doc range into blocks yields identical rows (the property
``bench_runs/zipf_wand.py`` relies on).

Corpus rows have the FIXTURES.md shape ``(repo, path, commit, lang,
content)``:

* content: ``t%05d`` terms from a Zipf(s) vocabulary of ``VOCAB`` terms,
  bursty within a document (each position repeats the doc's most recent
  fresh draw with a per-doc probability in [0.2, 0.8)), document lengths
  spread on a log scale between ``MIN_LEN`` and ``MAX_LEN`` tokens.
* path: ``<vocab term>/f<index>.<ext>``, so the title field (the engine
  indexes ``path`` as the title) shares the vocabulary with the body.
* repo: one of ``N_REPOS`` values, Zipf-distributed.
* commit: 40 hex digits from ``(seed, index, version)``; an upsert of the
  same ``(repo, path)`` gets a new version, a new commit and new content.

Queries and the serve query log are drawn from the generated corpus by
the same seed, so they hit real terms, real co-occurrences and real
adjacent pairs.
"""

from __future__ import annotations

import re

import numpy as np

VOCAB = 50_000
ZIPF_S = 1.1
MIN_LEN, MAX_LEN = 16, 256
N_REPOS = 48
LANGS = (
    ("python", "py"), ("java", "java"), ("go", "go"), ("rust", "rs"),
    ("js", "js"), ("c", "c"), ("md", "md"), ("txt", "txt"),
)
# reference IDF prune threshold (EngineConfig.idf_threshold): a term whose
# idf = ln((N - df + .5) / (df + .5)) falls below it is pruned
IDF_THRESHOLD = 1.5

FAMILIES = ("term", "and2", "and3", "or2", "or4", "phrase", "not", "bool")
STRATA = ("head", "mid", "tail")
MODES = {
    "term": "AND", "and2": "AND", "and3": "AND", "or2": "OR", "or4": "OR",
    "phrase": "PHRASE", "not": "NOT", "bool": "QUERY_EVALUATOR",
}

_TERMS = np.array([f"t{r:05d}" for r in range(VOCAB)])
_p = 1.0 / np.arange(1, VOCAB + 1, dtype=np.float64) ** ZIPF_S
_ZIPF_CDF = np.cumsum(_p / _p.sum())
_r = 1.0 / np.arange(1, N_REPOS + 1, dtype=np.float64)
_REPO_CDF = np.cumsum(_r / _r.sum())
_TWO64 = np.float64(2.0**64)
_TITLE_TOKEN = re.compile(r"\w+|[^\w\s]+")


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _hash(seed: int, stream: int, x: np.ndarray) -> np.ndarray:
    """Independent uint64 hash per (seed, stream) of the keys ``x``."""
    key = ((seed << 8) + stream) & 0xFFFFFFFFFFFFFFFF
    salt = _mix(np.array([key], dtype=np.uint64))[0]
    with np.errstate(over="ignore"):
        return _mix(np.asarray(x, dtype=np.uint64) ^ salt)


def _unit(seed: int, stream: int, x: np.ndarray) -> np.ndarray:
    return _hash(seed, stream, x) / _TWO64


def doc_tokens(seed: int, ids: np.ndarray, version: int = 0):
    """Body term ranks of docs ``ids`` at ``version``: (ranks, bounds),
    doc k's ranks are ``ranks[bounds[k]:bounds[k + 1]]``."""
    ids = np.asarray(ids, dtype=np.uint64)
    key = ids * np.uint64(64) + np.uint64(version)
    lens = np.floor(
        MIN_LEN * (MAX_LEN / MIN_LEN) ** _unit(seed, 1, key)
    ).astype(np.int64)
    bounds = np.concatenate(([0], np.cumsum(lens)))
    total = int(bounds[-1])
    owner = np.repeat(key, lens)
    j = np.arange(total, dtype=np.int64) - np.repeat(bounds[:-1], lens)
    pos_key = owner * np.uint64(1 << 12) + j.astype(np.uint64)
    ranks = np.searchsorted(_ZIPF_CDF, _unit(seed, 2, pos_key), side="right")
    ranks = np.minimum(ranks, VOCAB - 1)
    q_doc = 0.2 + 0.6 * _unit(seed, 3, key)
    fresh = (_unit(seed, 4, pos_key) >= np.repeat(q_doc, lens)) | (j == 0)
    src = np.maximum.accumulate(
        np.where(fresh, np.arange(total, dtype=np.int64), -1)
    )
    return ranks[src], bounds


def corpus_rows(seed: int, lo: int, hi: int, version: int = 0,
                marker: str | None = None) -> dict[str, list]:
    """Columns of docs ``lo..hi-1`` at ``version``; ``marker`` (a token
    outside the vocabulary) is appended to every body when given."""
    ids = np.arange(lo, hi, dtype=np.uint64)
    repo_ix = np.searchsorted(_REPO_CDF, _unit(seed, 5, ids), side="right")
    lang_ix = _hash(seed, 6, ids) % np.uint64(len(LANGS))
    dir_rank = np.searchsorted(_ZIPF_CDF, _unit(seed, 7, ids), side="right")
    key = ids * np.uint64(64) + np.uint64(version)
    c = [_hash(seed, 8 + k, key) for k in range(3)]
    ranks, bounds = doc_tokens(seed, ids, version)
    toks = _TERMS[ranks]
    out = {"repo": [], "path": [], "commit": [], "lang": [], "content": []}
    for k, i in enumerate(range(lo, hi)):
        lang, ext = LANGS[int(lang_ix[k])]
        body = " ".join(toks[bounds[k]:bounds[k + 1]].tolist())
        out["repo"].append(f"org{int(repo_ix[k]) % 12:02d}/proj{int(repo_ix[k]):02d}")
        out["path"].append(f"{_TERMS[min(int(dir_rank[k]), VOCAB - 1)]}/f{i:07d}.{ext}")
        out["commit"].append(
            f"{int(c[0][k]):016x}{int(c[1][k]):016x}{int(c[2][k]):016x}"[:40]
        )
        out["lang"].append(lang)
        out["content"].append(f"{body} {marker}" if marker else body)
    return out


def corpus(seed: int, n_docs: int, block: int = 4096) -> dict[str, list]:
    """The whole corpus, generated block by block (block size does not
    change the rows)."""
    cols: dict[str, list] = {}
    for lo in range(0, n_docs, block):
        part = corpus_rows(seed, lo, min(n_docs, lo + block))
        for k, v in part.items():
            cols.setdefault(k, []).extend(v)
    return cols


def sorted_order(cols: dict[str, list]) -> list[int]:
    """Row order of the engine's dense doc ids: ``(repo, path, commit)``
    ascending (ASCII, so Python and Spark string orders agree)."""
    return sorted(
        range(len(cols["repo"])),
        key=lambda i: (cols["repo"][i], cols["path"][i], cols["commit"][i]),
    )


def title_tokens(path: str) -> list[str]:
    """Tokens of a generated path under the engine's default tokenizer.
    Generated paths hold only lowercase letters, digits, ``/`` and ``.``;
    on that alphabet the simplemma pattern reduces to word runs and
    punctuation runs.  The top-k check against the reference oracle
    fails if the two ever disagree."""
    return _TITLE_TOKEN.findall(path.lower())


def body_tokens(content: str) -> list[str]:
    """Generated bodies are single-space-joined lowercase terms."""
    return content.split(" ")


# ----------------------------------------------------------------- queries

def term_dfs(cols: dict[str, list]) -> dict[str, int]:
    """Document frequency of every body or title term."""
    df: dict[str, int] = {}
    for path, content in zip(cols["path"], cols["content"]):
        for t in set(body_tokens(content)) | set(title_tokens(path)):
            df[t] = df.get(t, 0) + 1
    return df


def stratum_of(df: int, n_docs: int) -> str | None:
    """head: IDF-pruned; mid: df in [n/200, n/20]; tail: df in [3, n/500]."""
    if df <= 0:
        return None
    if np.log((n_docs - df + 0.5) / (df + 0.5)) < IDF_THRESHOLD:
        return "head"
    if n_docs / 200 <= df <= n_docs / 20:
        return "mid"
    if 3 <= df <= max(3, n_docs // 500):
        return "tail"
    return None


class QueryDrawer:
    """Draws distinct queries per (family, stratum) from anchor docs, so
    AND terms co-occur and phrases are real adjacent pairs."""

    def __init__(self, seed: int, cols: dict[str, list]):
        self.seed = seed
        self.n = len(cols["content"])
        self.bodies = cols["content"]
        self.df = term_dfs(cols)
        self.stratum = {
            t: s for t, d in self.df.items()
            if t.startswith("t") and (s := stratum_of(d, self.n)) is not None
        }
        self.by_stratum = {
            s: sorted(t for t, ts in self.stratum.items() if ts == s)
            for s in STRATA
        }
        self._counter = 0

    def _u(self, k: int) -> float:
        self._counter += 1
        return float(_unit(self.seed, 20 + k, np.array([self._counter]))[0])

    def _pick(self, seq, k: int = 0):
        return seq[int(self._u(k) * len(seq)) % len(seq)]

    def _anchor_terms(self, stratum: str, need: int) -> list[str] | None:
        for _ in range(64):
            body = body_tokens(self.bodies[int(self._u(1) * self.n) % self.n])
            got = sorted({t for t in body if self.stratum.get(t) == stratum})
            if len(got) >= need:
                start = int(self._u(2) * (len(got) - need + 1))
                return got[start:start + need]
        return None

    def _phrase(self, stratum: str) -> list[str] | None:
        for _ in range(64):
            body = body_tokens(self.bodies[int(self._u(3) * self.n) % self.n])
            pairs = [
                (a, b) for a, b in zip(body, body[1:])
                if a != b and self.stratum.get(a) == stratum
            ]
            if pairs:
                return list(self._pick(pairs, 4))
        return None

    def draw(self, family: str, stratum: str) -> str | None:
        """One query text, or None when the corpus has no fitting terms."""
        pool = self.by_stratum[stratum]
        if not pool:
            return None
        if family in ("term", "not"):
            return self._pick(pool, 5)
        if family in ("and2", "and3"):
            terms = self._anchor_terms(stratum, int(family[-1]))
            return " ".join(terms) if terms else None
        if family in ("or2", "or4"):
            return " ".join(self._pick(pool, 6 + i) for i in range(int(family[-1])))
        if family == "phrase":
            pair = self._phrase(stratum)
            return " ".join(pair) if pair else None
        if family == "bool":
            terms = self._anchor_terms(stratum, 2)
            if not terms:
                return None
            return f"( {terms[0]} OR {self._pick(pool, 9)} ) AND {terms[1]}"
        raise ValueError(f"unknown family {family!r}")

    def distinct(self, n_per_cell: int, exclude=()) -> list[tuple]:
        """``n_per_cell`` distinct ``(family, stratum, text, mode)`` per
        cell, interleaved cell by cell, none of them in ``exclude``."""
        seen = {(q, m) for q, m in exclude}
        cells: dict[tuple, list] = {}
        for fam in FAMILIES:
            for st in STRATA:
                got = cells.setdefault((fam, st), [])
                for _ in range(n_per_cell * 8):
                    if len(got) >= n_per_cell:
                        break
                    q = self.draw(fam, st)
                    if q is None or (q, MODES[fam]) in seen:
                        continue
                    seen.add((q, MODES[fam]))
                    got.append((fam, st, q, MODES[fam]))
        out = []
        for i in range(n_per_cell):
            for fam in FAMILIES:
                for st in STRATA:
                    if i < len(cells[(fam, st)]):
                        out.append(cells[(fam, st)][i])
        return out


def wave_start(seed: int, n_docs: int, wave_docs: int) -> int:
    """First generation index of the upsert wave's contiguous doc range."""
    return int(_unit(seed, 50, np.array([0]))[0] * (n_docs - wave_docs))


def serve_log(seed: int, n_pool: int, length: int, s: float,
              lag: int) -> list[int]:
    """A query log of ``length`` indexes into a pool of ``n_pool``
    distinct queries whose first ``lag`` entries the server has already
    answered.  Even entries are the next first-seen query in pool order,
    so every log prefix has the same cache-miss share; odd entries repeat,
    Zipf(s) by popularity, a query seen at least ``lag`` entries earlier
    (the earliest-seen is the most popular), so a repeat does not race
    the first request of its query when clients run concurrently."""
    if n_pool < lag + (length + 1) // 2:
        raise ValueError(f"a pool of {n_pool} cannot feed {length} entries")
    u_pick = _unit(seed, 43, np.arange(length, dtype=np.uint64))
    cdf = np.cumsum(1.0 / np.arange(1, n_pool + 1, dtype=np.float64) ** s)
    log: list[int] = []
    for k in range(length):
        if k % 2 == 0:
            log.append(lag + k // 2)
        else:
            # pre-answered queries plus fresh ones from entries <= k - lag
            ready = lag + max(0, (k - lag) // 2 + 1)
            r = int(np.searchsorted(cdf[:ready] / cdf[ready - 1], u_pick[k],
                                    side="right"))
            log.append(min(r, ready - 1))
    return log
