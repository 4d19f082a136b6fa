"""Seeded inputs: the transcript corpus and each workload's request stream.

Everything here is a pure function of the seed. The corpus comes from
`fixtures.datagen._gen_conv_range`, called in the benchmark process (not
on Spark workers, which cannot import `fixtures` outside the repo root).
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd

from fixtures.datagen import EPOCH, _gen_conv_range, _vocab, _zipf_probs

# Corpus shape shared by every workload (≈5.5 turns and ≈330 text bytes
# per conv): a full build of BASE_CONVS, a delta of DELTA_CONVS, then a
# force-merge to MERGED_SHARDS.
BASE_CONVS = 4000
DELTA_CONVS = 400
MERGED_SHARDS = 8

# the serving stream draws its heavy terms from the whole vocabulary and
# its cheap (rare) terms from the tail ranks
RARE_FROM = 1000
HOT_TOP = 40


def corpus(seed: int, start: int, end: int) -> pd.DataFrame:
    """Transcript rows for convs [start, end), transcript schema."""
    pdf = _gen_conv_range(start, end, seed)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pdf


def origin_us(n_convs: int) -> int:
    """Epoch microseconds just past the newest turn of an n-conv corpus
    (the decay origin a serving client would pass as "now")."""
    newest = pd.Timestamp(EPOCH) + pd.Timedelta(seconds=7 * (n_convs * 60))
    return int(newest.value // 1000)


class _Terms:
    """Term draws. Hot terms come from a seeded cycle through the top
    HOT_TOP ranks, so every HOT_TOP requests use each hot term once: the
    cost mix of a few hundred requests does not hinge on how often the
    hottest term happens to be drawn."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.vocab = _vocab()
        self.probs = _zipf_probs(len(self.vocab))
        tail = self.probs[HOT_TOP:]
        self.tail_probs = tail / tail.sum()
        self._hot = itertools.cycle([int(i) for i in
                                     rng.permutation(HOT_TOP)])

    def zipf(self, n: int) -> list[str]:
        idx = self.rng.choice(len(self.vocab), size=n, replace=False,
                              p=self.probs)
        return [str(self.vocab[i]) for i in idx]

    def tail(self, n: int) -> list[str]:
        """n distinct terms below the hot band, Zipf-weighted."""
        idx = self.rng.choice(len(self.tail_probs), size=n, replace=False,
                              p=self.tail_probs)
        return [str(self.vocab[HOT_TOP + i]) for i in idx]

    def hot(self, n: int) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            w = str(self.vocab[next(self._hot)])
            if w not in out:
                out.append(w)
        return out

    def rare(self) -> str:
        return str(self.vocab[int(self.rng.integers(RARE_FROM,
                                                    len(self.vocab)))])


HEAVY_KINDS = ("match", "phrase", "near", "bool", "facet", "match_stats",
               "collapse", "decay")


def _heavy(t: _Terms, kind: str, k: int, origin: int) -> dict:
    """One heavy request: one hot term (or a hot pair) plus tail terms."""
    rng = t.rng
    if kind == "match":
        q = t.hot(1) + t.tail(int(rng.integers(1, 4)))
        return {"type": "match", "q": " ".join(q), "k": k}
    if kind == "phrase":
        return {"type": "phrase", "q": " ".join(t.hot(2)), "k": k}
    if kind == "near":
        return {"type": "near", "q": " ".join(t.hot(2)),
                "slop": int(rng.integers(2, 6)), "k": k}
    if kind == "bool":
        a, b, c = t.tail(3)
        return {"type": "bool", "should": f"{a} {b}", "filter": t.hot(1)[0],
                "must_not": c, "k": k}
    if kind == "facet":
        return {"type": "facet", "should": " ".join(t.tail(2)),
                "filter": t.hot(1)[0]}
    if kind == "match_stats":
        return {"type": "match_stats", "should": " ".join(t.tail(2)),
                "filter": t.hot(1)[0]}
    if kind == "collapse":
        return {"type": "collapse", "should": " ".join(t.hot(1) + t.tail(1)),
                "k": k}
    return {"type": "decay", "q": " ".join(t.hot(1) + t.tail(1)), "k": k,
            "half_life_s": float(86_400 * int(rng.integers(1, 30))),
            "origin_us": origin}


def cold_mix_stream(seed: int, n_convs: int):
    """Endless distinct requests, each tagged cheap (True) or heavy
    (False), alternating.

    Heavy requests cycle through HEAVY_KINDS: multi-term match, phrase
    and near on hot pairs, bool, facet, match_stats, collapse and decay.
    Cheap: a match on one rare term. No request repeats, so the daemon's
    request cache never hits."""
    t = _Terms(np.random.default_rng([seed, 2]))
    origin = origin_us(n_convs)
    kinds = itertools.cycle(HEAVY_KINDS)
    seen = set()
    for i in itertools.count():
        cheap = i % 2 == 0
        kind = None if cheap else next(kinds)
        while True:  # redraw a repeat in the same slot
            k = int(t.rng.integers(5, 21))
            req = ({"type": "match", "q": t.rare(), "k": k} if cheap
                   else _heavy(t, kind, k, origin))
            key = repr(sorted(req.items()))
            if key not in seen:
                break
        seen.add(key)
        yield cheap, req


def take(stream, n: int) -> list:
    return list(itertools.islice(stream, n))


def warm_stream(seed: int, distinct: int = 128, zipf_s: float = 1.1):
    """Endless requests drawn Zipf(zipf_s) over `distinct` distinct ones
    (80% match, 10% phrase, 10% bool). Single-term matches are cheap."""
    t = _Terms(np.random.default_rng([seed, 3]))
    pool = []
    for _ in range(distinct):
        r = t.rng.random()
        if r < 0.8:
            q = t.zipf(int(t.rng.integers(1, 4)))
            pool.append((len(q) == 1, {"type": "match", "q": " ".join(q),
                                       "k": 10}))
        elif r < 0.9:
            pool.append((False, {"type": "phrase", "q": " ".join(t.hot(2)),
                                 "k": 10}))
        else:
            a, b = t.zipf(2)
            pool.append((False, {"type": "bool", "should": a,
                                 "filter": t.hot(1)[0], "k": 10}))
    p = _zipf_probs(distinct, zipf_s)
    while True:
        for i in t.rng.choice(distinct, size=1024, p=p):
            yield pool[i]


def spark_calls(seed: int, n: int) -> list[tuple[str, object]]:
    """Closed-loop IndexSearcher calls: three Spark-routed calls
    (deep-k match, search_many and search_many_mixed at k=5000) per one
    small-k search_many that routes locally."""
    t = _Terms(np.random.default_rng([seed, 4]))
    out = []
    for i in range(n):
        step = i % 4
        if step == 0:
            out.append(("deep_k", " ".join(t.zipf(int(t.rng.integers(2, 5))))))
        elif step == 1:
            out.append(("search_many", {
                f"q{j}": " ".join(t.zipf(int(t.rng.integers(1, 4))))
                for j in range(8)}))
        elif step == 2:
            mixed = {}
            for j in range(8):
                kind = j % 4
                if kind == 0:
                    mixed[f"m{j}"] = {"type": "match",
                                      "q": " ".join(t.zipf(2))}
                elif kind == 1:
                    mixed[f"m{j}"] = {"type": "phrase",
                                      "q": " ".join(t.hot(2))}
                elif kind == 2:
                    mixed[f"m{j}"] = {"type": "near", "q": " ".join(t.hot(2)),
                                      "slop": 3}
                else:
                    a, b = t.zipf(2)
                    mixed[f"m{j}"] = {"type": "bool", "should": a,
                                      "filter": t.hot(1)[0]}
            out.append(("search_many_mixed", mixed))
        else:
            out.append(("local_batch", {
                f"l{j}": " ".join(t.zipf(int(t.rng.integers(1, 4))))
                for j in range(8)}))
    return out


def oracle_sample(seed: int, n_match: int = 4, n_near: int = 1
                  ) -> list[dict]:
    """A small seeded sample of match and near requests for the
    reference-oracle check (the oracle is slow: keep it small)."""
    t = _Terms(np.random.default_rng([seed, 5]))
    out = [{"type": "match", "q": " ".join(t.zipf(int(t.rng.integers(1, 4)))),
            "k": 10} for _ in range(n_match)]
    # near on a mid-frequency pair keeps the brute-force oracle cheap
    for _ in range(n_near):
        a, b = (str(t.vocab[int(i)]) for i in
                t.rng.choice(np.arange(100, 400), size=2, replace=False))
        out.append({"type": "near", "q": f"{a} {b}", "slop": 4, "k": 10})
    return out
