"""Seeded query streams over the corpus generator's own vocabulary.

Terms never come from a built index, so a seed gives the same stream on
every commit.  The traffic mix is fixed by stream position, not by what a
seed happens to draw: the class cycles through ``CLASSES`` (equal shares)
and the ranking mode follows a low-discrepancy sequence with the shares of
the frozen ``bench.py`` query leaves.  Within a class, the query text is a
Zipf-distributed draw from a seeded pool of distinct texts, so popular
queries repeat.

Where each value comes from:

* ranking modes — ``bench.py`` times 16 single-field query leaves: 9 plain
  bm25 (q1-q4, qc1-qc5), 6 pre-score + bm25 (qc6, qp1-qp5) and 1 pre-score
  + bm25 with ``max_docs_per_segment=96`` (q5).  Hence ``PRE_SHARE`` 7/16,
  ``QUOTA_SHARE`` 1/16 (a subset of the pre-scored share) and ``QUOTA`` 96.
  They apply to presorted indexes only; on any other every query is plain
  bm25 (``ranked=False``).
* classes — the reference classes (common, rare, two-term AND, multi-term
  OR) plus OR-with-rare and a ``-term`` negation.  Nothing in the
  repository weights them (``bench.py`` has no negation leaf), so each gets
  an equal share: an assumption.
* ``ZIPF_S`` 1.0 — no source in the repository either: the classic Zipf
  law, the usual first model of query-log popularity.  An assumption.
"""

from __future__ import annotations

import bisect
import itertools
import random
from dataclasses import dataclass

from stractt_spark.sources.corpus import _KEYWORDS, _NOUNS, _RARE, _STEMS

CLASSES = ("common", "rare", "and", "or", "or_rare", "not")
PRE_SHARE = 7 / 16
QUOTA_SHARE = 1 / 16
QUOTA = 96
ZIPF_S = 1.0
PHI = 0.6180339887   # low-discrepancy steps of the ranking-mode and
ALPHA = 0.4142135624  # Zipf-rank sequences (rationally independent)

COMMON = sorted(
    set(_STEMS) | {n.lower() for n in _NOUNS}
    | set(itertools.chain.from_iterable(_KEYWORDS.values()))
)
RARE = sorted(_RARE)


@dataclass(frozen=True)
class Query:
    text: str
    mode: str
    cls: str
    pre: bool = False  # rank by pre-score + bm25
    quota: int | None = None  # max_docs_per_segment

    @property
    def key(self) -> tuple:
        return (self.text, self.mode, self.pre, self.quota)

    @property
    def ranking(self) -> str:
        return "quota" if self.quota else "pre" if self.pre else "bm25"


def _draw(rng: random.Random, cls: str) -> tuple[str, str]:
    a, b, c, d = rng.sample(COMMON, 4)
    if cls == "common":
        return a, "should"
    if cls == "rare":
        return rng.choice(RARE), "should"
    if cls == "and":
        return f"{a} {b}", "must"
    if cls == "or":
        return " ".join([a, b, c, d][: rng.choice((3, 4))]), "should"
    if cls == "or_rare":
        return f"{a} {rng.choice(RARE)}", "should"
    return f"{a} -{b}", "must"


def make_texts(seed: int, cls: str, n: int) -> list[tuple[str, str]]:
    """Up to ``n`` distinct (text, mode) of one class; fewer when the class
    runs out (there are only a few rare terms)."""
    rng = random.Random(f"texts|{seed}|{cls}")
    out: list[tuple[str, str]] = []
    misses = 0
    while len(out) < n and misses < 100:
        t = _draw(rng, cls)
        if t in out:
            misses += 1
        else:
            out.append(t)
            misses = 0
    return out


def make_stream(seed: int, per_class: int, length: int,
                ranked: bool = True) -> list[Query]:
    """``length`` queries.  Position i has class ``CLASSES[i % 6]`` and a
    ranking mode from the ``PHI`` sequence (plain bm25 throughout when not
    ``ranked``); its text is the class pool's rank r with
    P(r) ∝ (r+1)^-ZIPF_S, drawn by the ``ALPHA`` sequence.  Only the
    sequence offsets and the pools depend on the seed, so every seed gets
    the same mix, even over a short prefix."""
    pools = {c: make_texts(seed, c, per_class) for c in CLASSES}
    cums = {c: list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S
                                         for r in range(len(p))))
            for c, p in pools.items()}
    rng = random.Random(f"stream|{seed}|{per_class}")
    off_u, off_v = rng.random(), rng.random()
    out = []
    for i in range(length):
        cls = CLASSES[i % len(CLASSES)]
        u = (off_u + i * PHI) % 1.0 if ranked else 1.0
        v = (off_v + i * ALPHA) % 1.0
        cum = cums[cls]
        text, mode = pools[cls][bisect.bisect_left(cum, v * cum[-1])]
        out.append(Query(text, mode, cls, pre=u < PRE_SHARE,
                         quota=QUOTA if u < QUOTA_SHARE else None))
    return out


def batch_queries(n: int) -> list[Query]:
    """``n`` distinct plain-bm25 queries, classes in turn, the same for
    every seed."""
    pools = {c: make_texts(0, c, n) for c in CLASSES}
    return [Query(*pools[c][i // len(CLASSES)], c)
            for i, c in zip(range(n), itertools.cycle(CLASSES))]


def repeat_frac(stream: list[Query]) -> float:
    """Share of queries that repeat an earlier one (a plan-memo hit when the
    handle did not change in between)."""
    if not stream:
        return 0.0
    return 1.0 - len({q.key for q in stream}) / len(stream)


def mix(stream: list[Query]) -> str:
    """Measured traffic shares by class and by ranking mode."""
    n = max(1, len(stream))
    parts = []
    for attr, keys in (("cls", CLASSES), ("ranking", ("bm25", "pre", "quota"))):
        counts = {k: sum(1 for q in stream if getattr(q, attr) == k) for k in keys}
        parts.append(" ".join(f"{k}={v / n:.2f}" for k, v in counts.items()))
    return "; ".join(parts)
