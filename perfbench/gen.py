"""Seeded input generators for the benchmark workloads.

Everything the library sees is produced here from ``--seed``: the same seed
gives the same points, batches, documents and vectors.  Each generator also
returns the ground truth its workload's output check needs (point counts,
planted late points, planted duplicate groups and clusters), so checks never
trust the library's own answers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

NS = 1_000_000_000
#: all series start near this instant (2023-11-14, ns since the epoch)
T0 = 1_700_000_000 * NS

#: the two hierarchy groups of the time-series workloads: name prefix ->
#: sample spacing in ns (20 Hz and 1 Hz)
SPACING = {"g20": 50_000_000, "g1": NS}

#: levels per hierarchy; interval_min = 30 x spacing and factor 10 are the
#: reference's recommended parameters, interval_max is 100 x interval_min
LEVELS = 3
FACTOR = 10

POINT_SCHEMA = "metric string, time long, value double"


def meta_for(spacing: int):
    from hta_spark.meta import Meta
    imin = 30 * spacing
    return Meta(interval_min=imin, interval_max=imin * FACTOR ** (LEVELS - 1),
                interval_factor=FACTOR)


def prefix_configs() -> dict:
    """Prefix rules for ``HtaStore``: every metric named ``<group>.<x>``
    takes its group's hierarchy."""
    return {g: meta_for(s) for g, s in SPACING.items()}


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _walk(rng: np.random.Generator, n: int, start: float = 0.0) -> np.ndarray:
    return np.round(start + np.cumsum(rng.normal(0.0, 1.0, n)), 3)


def _times(rng: np.random.Generator, start: int, n: int,
           spacing: int) -> np.ndarray:
    """``n`` strictly increasing timestamps after ``start`` with a seeded
    jitter of at most a quarter of the spacing."""
    j = spacing // 4
    steps = spacing + rng.integers(-j, j + 1, n)
    return (start + np.cumsum(steps)).astype(np.int64)


# -- backfill / dashboard ---------------------------------------------------

def series(seed: int, points: int, n_metrics: int = 64) -> dict:
    """``points`` points over ``n_metrics`` metrics, half of them in the
    20 Hz group and half in the 1 Hz group.  Metric 0 (``g20.m00``) is the
    hot metric and holds half of all points; the rest share the other half.
    Returns ``{name: (times int64[], values float64[])}``, each time-sorted.
    """
    rng = _rng(seed, 1)
    hot = points // 2
    per, extra = divmod(points - hot, n_metrics - 1)
    out = {}
    for i in range(n_metrics):
        group = "g20" if i < n_metrics // 2 else "g1"
        n = hot if i == 0 else per + (1 if i - 1 < extra else 0)
        start = T0 + int(rng.integers(0, 60 * NS))
        out[f"{group}.m{i:02d}"] = (_times(rng, start, n, SPACING[group]),
                                    _walk(rng, n))
    return out


def to_frame(data: dict) -> pd.DataFrame:
    return pd.concat(
        [pd.DataFrame({"metric": name, "time": t, "value": v})
         for name, (t, v) in data.items()], ignore_index=True)


def count_in(times: np.ndarray, begin: int, end: int) -> int:
    """Points a raw-default scoped count over [begin, end) returns: closed
    begin, extended end (through the first point at or after ``end``)."""
    lo = int(np.searchsorted(times, begin, "left"))
    hi = int(np.searchsorted(times, end, "left"))
    hi = min(hi + 1, len(times))
    return max(hi - lo, 0)


# -- ingest -----------------------------------------------------------------

class BatchStream:
    """Time-ordered micro-batches over ``n_metrics`` 1 Hz metrics named
    ``s.mNN``.  A share ``late_share`` of each batch's rows are planted late
    points: timestamps before their metric's newest accepted time, so the
    strict policy must reject exactly them.  The accepted timestamps of each
    metric are kept for the count checks."""

    SPACING = SPACING["g1"]

    def __init__(self, seed: int, n_metrics: int, late_share: float):
        self.rng = _rng(seed, 2)
        self.names = [f"s.m{i:02d}" for i in range(n_metrics)]
        self.late_share = late_share
        self.last = {m: T0 + int(self.rng.integers(0, 60 * NS))
                     for m in self.names}
        self.value = {m: 0.0 for m in self.names}
        self.accepted: dict[str, list[np.ndarray]] = {m: [] for m in self.names}

    def batch(self, per_metric: int, late: bool = True):
        """(frame, newest accepted time per metric, planted late rows)."""
        parts = []
        for m in self.names:
            t = _times(self.rng, self.last[m], per_metric, self.SPACING)
            v = _walk(self.rng, per_metric, self.value[m])
            parts.append(pd.DataFrame({"metric": m, "time": t, "value": v}))
        n_late = (int(round(self.late_share * len(self.names) * per_metric))
                  if late else 0)
        if n_late:
            who = self.rng.choice(self.names, n_late)
            # strictly before the metric's newest stored point, up to 5 s
            back = self.rng.integers(1, 5 * NS, n_late)
            parts.append(pd.DataFrame({
                "metric": who,
                "time": np.array([self.last[m] for m in who]) - back,
                "value": np.round(self.rng.normal(0.0, 1.0, n_late), 3)}))
        for p in parts[:len(self.names)]:
            m = p["metric"].iat[0]
            self.accepted[m].append(p["time"].to_numpy())
            self.last[m] = int(p["time"].iat[-1])
            self.value[m] = float(p["value"].iat[-1])
        df = (pd.concat(parts, ignore_index=True)
              .sort_values(["time", "metric"], kind="stable")
              .reset_index(drop=True))
        return df, dict(self.last), n_late

    def times(self, metric: str) -> np.ndarray:
        """Accepted timestamps of ``metric`` so far, sorted."""
        return np.concatenate(self.accepted[metric])


# -- curate -----------------------------------------------------------------

def corpus(seed: int, n_docs: int, n_tokens: int = 40, vocab: int = 5000,
           exact_groups: int = 40, near_clusters: int = 40):
    """Documents with planted exact-duplicate groups (copies that differ
    only in case and surrounding whitespace, which normalization removes)
    and planted near-duplicate clusters (a base document plus copies with
    one substituted token each).  Everything else is random text.

    Returns (frame, exact_groups, near_clusters): the groups as sorted id
    lists."""
    rng = _rng(seed, 3)
    words = np.array([f"w{i}" for i in range(vocab)])

    def doc() -> list[str]:
        return list(rng.choice(words, n_tokens))

    texts: list[str] = []
    exact: list[list[int]] = []
    near: list[list[int]] = []
    for _ in range(exact_groups):
        base = " ".join(doc())
        size = int(rng.integers(2, 5))
        ids = []
        for c in range(size):
            ids.append(len(texts))
            texts.append(base if c == 0 else
                         ("  " + base.upper() + " ") if c % 2 else base + "  ")
        exact.append(ids)
    for _ in range(near_clusters):
        base = doc()
        size = int(rng.integers(2, 5))
        ids = [len(texts)]
        texts.append(" ".join(base))
        for _c in range(size - 1):
            copy = list(base)
            copy[int(rng.integers(0, n_tokens))] = f"x{int(rng.integers(10**9))}"
            ids.append(len(texts))
            texts.append(" ".join(copy))
        near.append(ids)
    while len(texts) < n_docs:
        texts.append(" ".join(doc()))
    # shuffle ids so planted groups are not contiguous
    perm = rng.permutation(len(texts))
    new_id = np.empty_like(perm)
    new_id[perm] = np.arange(len(texts))
    frame = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64),
                          "text": [texts[i] for i in perm]})
    remap = lambda groups: [sorted(int(new_id[i]) for i in g) for g in groups]
    return frame, remap(exact), remap(near)


def embeddings(seed: int, n: int, dim: int = 16, clusters: int = 40):
    """Random unit-scale vectors plus planted clusters of 2-4 vectors that
    differ from their base by noise of 1e-4 per coordinate.  Returns
    (frame, clusters as sorted id lists)."""
    rng = _rng(seed, 4)
    vecs = rng.normal(0.0, 1.0, (n, dim))
    planted: list[list[int]] = []
    ids = rng.permutation(n)
    pos = 0
    for _ in range(clusters):
        size = int(rng.integers(2, 5))
        members = sorted(int(i) for i in ids[pos:pos + size])
        pos += size
        base = vecs[members[0]]
        for i in members[1:]:
            vecs[i] = base + rng.normal(0.0, 1e-4, dim)
        planted.append(members)
    frame = pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                          "embedding": [list(map(float, r)) for r in vecs]})
    return frame, planted


def pairs_in(groups: list[list[int]]) -> int:
    return sum(len(g) * (len(g) - 1) // 2 for g in groups)
