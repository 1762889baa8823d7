"""Seeded inputs: transcript corpora, upsert micro-batches and query logs.

Everything here is the benchmark's own work and stays outside every timing.
The same seed always yields the same inputs:

- corpus: ``n_turns`` turns in conversations whose ids are offset by the
  seed and the workload's corpus stream, so the fixture's per-row text
  generator (keyed by crc32 of conv_id:turn_idx) produces different text for
  every (seed, stream); lengths and the 1 % exact-duplicate tail come from
  ``RandomState([seed, stream])``;
- query logs: Zipf over the whole lemma vocabulary with stratified draws
  (``Stratified``), so every seed's log has nearly the same frequency
  profile — steady cache behaviour — while the order stays random, with
  no cyclic access pattern; the seed also picks the popularity order
  inside rank blocks and the surface forms.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd

from searchengine_spark.resources.vocab import LATIN_TOKENS, LEMMA_OF, ZIPF_FORMS
from searchengine_spark.sources.fixtures import _SCHEMA, conv_rows
from tests.golden_model import golden_analyze

SCHEMA = _SCHEMA
CONV_STRIDE = 1_000_000  # conv index space per seed: corpora of different seeds never share ids
STREAM_STRIDE = CONV_STRIDE // 8  # per-workload corpus streams 0-3; upserts use the upper half
# A run's search() phase holds few term draws (~12): stratify them in
# blocks of 8 so each run's mix repeats.
STRATA = 8
RANK_BLOCK = 4  # the seed shuffles the popularity order inside blocks of 4 ranks


def _frame(rows: list[dict]) -> pd.DataFrame:
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf


def corpus_pdf(seed: int, n_turns: int, stream: int = 0) -> pd.DataFrame:
    """Conversations of 1-40 turns until exactly ``n_turns`` turns (the last
    one truncated), plus a 1 % exact-duplicate tail, in seeded write order.
    A fixed turn count keeps corpus statistics (df, Σdf) steady across seeds.
    Different streams of one seed share no conversation."""
    rng = np.random.RandomState([seed % 2**32, stream])
    rows: list[dict] = []
    i = 0
    while len(rows) < n_turns:
        n = min(int(rng.randint(1, 41)), n_turns - len(rows))
        rows.extend(conv_rows(seed * CONV_STRIDE + stream * STREAM_STRIDE + i, n, len(rows)))
        i += 1
    pdf = _frame(rows)
    dup = pdf.iloc[rng.randint(0, len(pdf), max(1, len(pdf) // 100))]
    pdf = pd.concat([pdf, dup], ignore_index=True)
    return pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)


def staged_corpus(spark, work: Path, seed: int, n_turns: int, stream: int = 0):
    """(pandas corpus, Spark DataFrame read from its parquet copy). The
    parquet file is cached on disk keyed by (seed, n_turns, stream)."""
    pdf = corpus_pdf(seed, n_turns, stream)
    path = work / "inputs" / f"corpus-s{seed}-t{n_turns}-c{stream}.parquet"
    if not path.exists():
        path.parent.mkdir(parents=True, exist_ok=True)
        out = pdf.copy()
        out["ts"] = out["ts"].dt.tz_localize("UTC")
        tmp = path.with_suffix(".tmp")
        out.to_parquet(tmp, coerce_timestamps="us", index=False)
        tmp.rename(path)
    return pdf, spark.read.schema(SCHEMA).parquet(str(path))


def micro_batches(seed: int, corpus: pd.DataFrame, n_batches: int,
                  new_convs: int = 2, replaced: int = 10) -> list[pd.DataFrame]:
    """Upsert deltas: ``new_convs`` fresh conversations plus ``replaced``
    existing (conv_id, turn_idx) keys re-sent with new text. The keys to
    replace are drawn from the base corpus; new and donor conversations
    take ids from the upper half of the seed's id range, which no corpus
    reaches."""
    rng = np.random.RandomState(seed + 7919)
    keys = corpus[["conv_id", "turn_idx"]].drop_duplicates().sort_values(["conv_id", "turn_idx"])
    keys = keys.to_numpy()
    out = []
    for j in range(n_batches):
        base = seed * CONV_STRIDE + CONV_STRIDE // 2 + j * (new_convs + 1)
        rows: list[dict] = []
        for c in range(new_convs):
            rows.extend(conv_rows(base + c, int(rng.randint(5, 31)), 0))
        donor = conv_rows(base + new_convs, replaced, 0)
        for (conv_id, turn_idx), r in zip(keys[rng.choice(len(keys), replaced, replace=False)], donor):
            rows.append({**r, "conv_id": conv_id, "turn_idx": int(turn_idx)})
        out.append(_frame(rows))
    return out


def apply_upsert(corpus: dict, delta: pd.DataFrame) -> dict:
    """Key → row map after an upsert (replaced keys take the new row)."""
    out = dict(corpus)
    for r in delta.to_dict("records"):
        out[(r["conv_id"], int(r["turn_idx"]))] = r
    return out


def _lemma_forms() -> tuple[list[str], dict[str, list[str]]]:
    """Every lemma the fixture analysis can produce, ranked by how early its
    first surface form sits in the corpus generator's Zipf form pool (a
    document-frequency proxy); lemmas the generator never emits and the
    latin tokens follow."""
    forms: dict[str, list[str]] = {}
    for w, lem in sorted(LEMMA_OF.items()):
        if golden_analyze(w, "general") == [lem]:  # skip forms the analysis drops
            forms.setdefault(lem, []).append(w)
    for t in LATIN_TOKENS:
        if t not in forms and golden_analyze(t, "general") == [t]:
            forms[t] = [t]
    order: list[str] = []
    for w in ZIPF_FORMS:
        lem = LEMMA_OF.get(w, w)
        if lem in forms and lem not in order:
            order.append(lem)
    head = [order[0], "ошибка"] + [t for t in order[1:] if t != "ошибка"]
    latin = [t for t in LATIN_TOKENS if t in forms and t not in head]
    rest = sorted(set(forms) - set(head) - set(latin))
    return head + rest + latin, forms


class Stratified:
    """Zipf ranks with stratified draws: block b of ``strata`` consecutive
    draws takes one value from each of ``strata`` equal slices of the CDF,
    in an order seeded by (seed, b)."""

    def __init__(self, seed: int, n: int, s: float, strata: int = STRATA):
        w = np.arange(1, n + 1, dtype=np.float64) ** (-s)
        self.cdf = np.cumsum(w / w.sum())
        self.seed = seed
        self.strata = strata
        self._block: tuple = (-1, None)

    def rank(self, k: int) -> int:
        m = self.strata
        b, pos = divmod(k, m)
        if self._block[0] != b:
            rng = np.random.RandomState((self.seed * 1_000_003 + b) % (2**32))
            self._block = (b, (rng.permutation(m) + rng.rand(m)) / m)
        return min(int(np.searchsorted(self.cdf, self._block[1][pos])), len(self.cdf) - 1)


class QueryLog:
    """Deterministic, indexable query log: query i is a pure function of
    (seed, i). ``shapes`` cycles per query: (n_terms, mode, n_excluded).
    Query terms are Zipf(``zipf_s``) over the whole lemma vocabulary, with
    stratified draws; how often a query repeats follows from the skew alone."""

    def __init__(self, seed: int, zipf_s: float, shapes: list[tuple[int, str, int]],
                 strata: int = STRATA):
        rng = np.random.RandomState(seed + 104729)
        lemmas, self.forms = _lemma_forms()
        ranked = []
        for lo in range(0, len(lemmas), RANK_BLOCK):
            chunk = lemmas[lo:lo + RANK_BLOCK]
            ranked.extend(chunk[k] for k in rng.permutation(len(chunk)))
        self.lemmas = ranked
        self.terms = Stratified(seed, len(ranked), zipf_s, strata)
        self.seed = seed
        self.shapes = shapes
        self.draws_per_query = max(n + x for n, _, x in shapes)

    def lemmas_of(self, i: int) -> tuple[list[str], list[str], str]:
        """(query lemmas, excluded lemmas, mode) of log position i."""
        n, mode, n_x = self.shapes[i % len(self.shapes)]
        picked: list[str] = []
        k = i * self.draws_per_query
        while len(picked) < n + n_x:
            t = self.lemmas[self.terms.rank(k)]
            if t not in picked:
                picked.append(t)
            k += 1
        return picked[:n], picked[n:], mode

    def query(self, i: int) -> dict:
        return self._render(i, *self.lemmas_of(i))

    def at_ranks(self, i: int, ranks: list[int], mode: str = "bm25",
                 excl_ranks: list[int] = ()) -> dict:
        """Query i made of the lemmas at fixed popularity ranks. The seed
        shuffles ranks inside blocks of ``RANK_BLOCK``, so the terms differ
        between seeds while their document frequencies stay alike."""
        return self._render(i, [self.lemmas[r] for r in ranks],
                            [self.lemmas[r] for r in excl_ranks], mode)

    def _render(self, i: int, terms: list[str], excl: list[str], mode: str) -> dict:
        rng = np.random.RandomState((self.seed * 7_368_787 + i) % (2**32))

        def surface(lem: str) -> str:
            f = self.forms[lem]
            return f[rng.randint(len(f))]

        return {"i": i, "q": " ".join(surface(t) for t in terms),
                "exclude": " ".join(surface(t) for t in excl) or None,
                "mode": mode, "lemmas": terms}
