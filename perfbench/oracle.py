"""Answer checks against the repository's independent golden model.

``tests.golden_model.GoldenIndex`` is imported, not copied. It ranks every
matching doc; the NOT clause (``exclude=``) is applied on top of that
ranking because the engine computes corpus statistics before the exclusion.
Answers are compared by (conv_id, turn_idx, score), so doc_id numbering
(insertion-ordered after upserts) never matters, and docs tied at the k-th
score are interchangeable: an answer is correct when every returned doc
carries its true score and the i-th returned score equals the i-th true
top-k score.
"""

from __future__ import annotations

from tests.golden_model import GoldenIndex, golden_analyze

TOL = 1e-9


class Oracle:
    def __init__(self, rows: list[dict], mode: str = "general"):
        self.g = GoldenIndex(rows, mode=mode)
        self._memo: dict = {}

    def ranking(self, q: str, exclude: "str | None", smode: str) -> list[tuple[tuple, float]]:
        key = (q, exclude, smode)
        if key not in self._memo:
            full = self.g.search(q, k=self.g.n_docs, mode=smode)
            if exclude:
                if smode != "bm25":
                    raise ValueError("the oracle models exclude= on bm25 only")
                banned = set(golden_analyze(exclude, self.g.mode))
                full = [(d, s) for d, s in full if not banned & self.g.tf[d].keys()]
            self._memo[key] = [((self.g.docs[d]["conv_id"], int(self.g.docs[d]["turn_idx"])), s)
                               for d, s in full]
        return self._memo[key]

    def check(self, answer: list[tuple[str, int, float]], q: str, exclude: "str | None",
              smode: str, k: int) -> "str | None":
        """None when ``answer`` [(conv_id, turn_idx, score)] is a correct
        top-k, else a one-line description of the first mismatch."""
        full = self.ranking(q, exclude, smode)
        top = full[:k]
        if len(answer) != len(top):
            return f"{len(answer)} rows, expected {len(top)}"
        if len({(c, t) for c, t, _ in answer}) != len(answer):
            return "duplicate docs in answer"
        score_of = dict(full)
        for i, (c, t, s) in enumerate(answer):
            true = score_of.get((c, int(t)))
            if true is None:
                return f"rank {i}: ({c}, {t}) does not match the query"
            if abs(true - s) > TOL or abs(top[i][1] - s) > TOL:
                return f"rank {i}: ({c}, {t}) score {s!r}, true {true!r}, expected {top[i][1]!r}"
        return None
