"""Expected top-k from the repository's pure-Python oracles.

Single-field indexes check against ``stractt_spark.oracle.OracleIndex``,
multi-field ones against ``operators.multifield.MultiFieldOracle``.  Docs
are added under the index's INTERNAL ids (read back from its docmap), so
score ties break on the same ids.  Pre-score + bm25 adds the float32
pre-score the index packs, as ``tests/test_presorted.py`` does.
"""

from __future__ import annotations

import numpy as np

from harness import pre_score

ALL = 10**9


class Oracle:
    def __init__(self, fields: dict[str, float] | None, analyzer: str) -> None:
        """``fields``: field → boost for a multi-field oracle, else None."""
        if fields:
            from stractt_spark.operators.multifield import MultiFieldOracle

            self.idx = MultiFieldOracle(field_boosts=fields, analyzer=analyzer)
        else:
            from stractt_spark.oracle import OracleIndex

            self.idx = OracleIndex(analyzer=analyzer)
        self.multi = bool(fields)
        self.pre: dict[int, float] = {}
        self.deleted: set[int] = set()
        self._memo: dict[tuple, list] = {}

    def add(self, internal_id: int, orig_id: int, path: str, content: str) -> None:
        if self.multi:
            self.idx.add(internal_id, {"path": path, "content": content})
        else:
            self.idx.add(internal_id, content)
        self.pre[internal_id] = float(np.float32(pre_score(orig_id)))
        self._memo.clear()

    def delete(self, internal_ids) -> None:
        """Tombstones: masked from results; stats keep counting them until
        compaction (the engine's documented delete semantics)."""
        self.deleted.update(internal_ids)
        self._memo.clear()

    def expected(self, text: str, mode: str, pre: bool, k: int = 10) -> list:
        key = (text, mode, pre, k)
        hit = self._memo.get(key)
        if hit is not None:
            return hit
        depth = ALL if pre else k + len(self.deleted)
        ranked = [(d, s) for d, s in self.idx.search(text, k=depth, mode=mode)
                  if d not in self.deleted]
        if pre:
            ranked = sorted(((d, s + self.pre[d]) for d, s in ranked),
                            key=lambda t: (-t[1], t[0]))
        self._memo[key] = ranked[:k]
        return self._memo[key]


def same(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Rank identity and bit-identical float64 scores."""
    return len(got) == len(want) and all(
        g[0] == w[0] and g[1] == w[1] for g, w in zip(got, want)
    )
