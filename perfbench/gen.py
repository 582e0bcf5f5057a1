"""Seeded input generators for the three benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and returns plain pandas / Python data in the engine's
fixture schemas (``events``: event_id, ts, user_id, event_type, value,
props; ``documents``: doc_id, text, lang, source, n_chars;
``embeddings``: vec_id, embedding, label).  The ground truth the output
checks need (malformed rows, late arrivals, planted duplicates) is
returned next to the data, so a check never re-derives it from the
engine's own output.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

EPOCH_DAY0 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
#: share of each event type; the first three are the report types the
#: ingest normalize and the risk score keep
EVENT_TYPE_P = (0.30, 0.30, 0.15, 0.15, 0.10)
REPORT_TYPES = ("click", "purchase", "view")


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named input stream of one seed."""
    salt = int.from_bytes(stream.encode(), "little") % (2**31)
    return np.random.default_rng([seed, salt])


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


_GOOD_PROPS = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)
#: truncated JSON: from_json cannot parse it, so dlq_split must route
#: the row to the dead-letter side
_BAD_PROPS = np.array([f'{{"k": {k}' for k in range(100)], dtype=object)


def _props(rng: np.random.Generator, n: int, malformed: np.ndarray) -> np.ndarray:
    ks = rng.integers(0, 100, n)
    return np.where(malformed, _BAD_PROPS[ks], _GOOD_PROPS[ks])


def is_malformed(props: pd.Series) -> pd.Series:
    """True where ``props`` is one of the planted malformed payloads."""
    return ~props.str.endswith("}")


def events_frame(
    rng: np.random.Generator,
    n: int,
    first_id: int,
    day: int,
    n_devices: int,
    malformed_frac: float,
) -> pd.DataFrame:
    """``n`` events of one day (UTC) in the events fixture schema, with
    Zipf-skewed device popularity; ``is_malformed`` finds the planted
    malformed rows."""
    devices = rng.choice(n_devices, size=n, p=zipf_weights(n_devices)) + 1
    ts = EPOCH_DAY0 + np.int64(day) * DAY_US + np.sort(rng.integers(0, DAY_US, n))
    malformed = rng.random(n) < malformed_frac
    df = pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": devices.astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, size=n, p=EVENT_TYPE_P),
            # speeds straddle the overspeed threshold so every risk band
            # is populated
            "value": np.round(rng.gamma(4.0, 18.0, n), 2),
            "props": _props(rng, n, malformed),
        }
    )
    return df


@dataclass
class DayBatch:
    """One nightly raw batch: the day's on-time events plus the
    previous day's late ones, with the planted counts."""

    day: int
    events: pd.DataFrame
    malformed: int
    late: int
    days: tuple[int, ...]


def nightly_batches(
    seed: int,
    n_days: int,
    events_per_day: int,
    n_devices: int = 2000,
    malformed_frac: float = 0.01,
    late_frac: float = 0.03,
) -> list[DayBatch]:
    """``n_days`` raw batches.  A ``late_frac`` share of day d's events
    arrives in batch d + 1 instead of batch d."""
    rng = rng_for(seed, "nightly")
    produced = []
    for d in range(n_days + 1):
        df = events_frame(
            rng, events_per_day, d * events_per_day, d, n_devices, malformed_frac
        )
        late = rng.random(len(df)) < late_frac
        produced.append((df[~late], df[late]))
    batches = []
    for d in range(n_days):
        on_time = produced[d][0]
        late = produced[d - 1][1] if d > 0 else produced[0][1].iloc[:0]
        ev = pd.concat([on_time, late], ignore_index=True)
        n_bad = int(is_malformed(ev["props"]).sum())
        days = (d - 1, d) if d > 0 else (d,)
        batches.append(DayBatch(d, ev, n_bad, len(late), days))
    return batches


def stream_events(seed: int, n: int, n_devices: int = 300) -> pd.DataFrame:
    """Events for the open-loop producer (one synthetic day)."""
    return events_frame(rng_for(seed, "stream"), n, 0, 0, n_devices, 0.01)


#: the closed-loop request cycle: half offset pages, a quarter keyset
#: (seek) pages, a quarter counts, in a fixed order so every run sees
#: the same mix
REQUEST_CYCLE = ("page", "seek", "page", "count")


def serve_requests(seed: int, n: int, n_devices: int = 300) -> list[dict]:
    """Closed-loop requests over Zipf-skewed devices, kinds in
    REQUEST_CYCLE order."""
    rng = rng_for(seed, "serve")
    devices = rng.choice(n_devices, size=n, p=zipf_weights(n_devices)) + 1
    out = []
    for i, dev in enumerate(devices):
        kind = REQUEST_CYCLE[i % len(REQUEST_CYCLE)]
        q = {"device_id": str(int(dev))}
        if kind == "page":
            q["limit"] = str(int(rng.choice([10, 50])))
            q["offset"] = str(int(rng.choice([0, 10])))
        elif kind == "seek":
            cursor = EPOCH_DAY0 + np.int64(rng.integers(DAY_US // 4, DAY_US))
            q["limit"] = "20"
            q["after_ts"] = str(cursor.astype("datetime64[us]")) + "Z"
            q["after_id"] = "0"
        out.append({"kind": kind, "query": q})
    return out


# -- corpus -----------------------------------------------------------------

_SYLLABLES = (
    "ka to ri mo na se lu pe di ga vo ti ra ne so mi ku le ba zo "
    "fa he ju po wi ye qu xa ce do"
).split()
_STOP = ("the", "of", "and", "to", "in", "is", "for", "on", "with", "as")


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    words: set[str] = set()
    syl = np.asarray(_SYLLABLES, dtype=object)
    while len(words) < n:
        for k, idx in zip(rng.integers(2, 5, n), rng.integers(0, len(syl), (n, 4))):
            words.add("".join(syl[idx[:k]]))
    return sorted(words)[:n]


@dataclass
class Corpus:
    docs: pd.DataFrame
    embeddings: pd.DataFrame
    #: (keeper id, copy id): copies differ from the keeper only in case
    #: and whitespace, so dedup_exact_normalized must drop every copy
    exact_pairs: list[tuple[int, int]] = field(default_factory=list)
    #: (base id, variant id, planted word-3-shingle Jaccard)
    near_pairs: list[tuple[int, int, float]] = field(default_factory=list)
    #: ids of the boilerplate-template docs (hot LSH buckets)
    boilerplate_ids: list[int] = field(default_factory=list)
    n_hist: int = 0


def shingles(text: str, k: int = 3) -> set[str]:
    toks = " ".join(text.lower().split()).split(" ")
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / max(len(sa | sb), 1)


def corpus(
    seed: int,
    n_base: int,
    n_exact: int,
    n_near: int,
    n_boiler: int,
    arriving_frac: float = 0.25,
    dim: int = 32,
    n_clusters: int = 8,
) -> Corpus:
    """A document corpus with planted duplicates plus clustered
    embeddings.  The last ``arriving_frac`` of doc ids form the crawl
    slice the incremental pass ingests."""
    rng = rng_for(seed, "corpus")
    vocab = _vocab(rng, 3000)
    pv = zipf_weights(len(vocab), 0.9)
    # every sixth token (on average) is a stopword, the rest Zipf words
    lengths = rng.integers(30, 120, n_base)
    words = np.asarray(vocab, dtype=object)[rng.choice(len(vocab), size=lengths.sum(), p=pv)]
    stop = rng.random(lengths.sum()) < 1 / 6
    words[stop] = np.asarray(_STOP, dtype=object)[rng.integers(0, len(_STOP), stop.sum())]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts: list[str] = [" ".join(words[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    exact_pairs, near_pairs = [], []
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        t = texts[src].upper() if rng.random() < 0.5 else texts[src]
        texts.append("  " + t.replace(" ", "   ", 3) + " ")
        exact_pairs.append((src, len(texts) - 1))
    for _ in range(n_near):
        src = int(rng.integers(0, n_base))
        toks = texts[src].split(" ")
        # one substituted token every ~25 keeps the shingle Jaccard
        # near 0.8, well above the 0.6 verify threshold
        for i in rng.choice(len(toks), size=max(1, len(toks) // 25), replace=False):
            toks[i] = vocab[int(rng.integers(0, len(vocab)))]
        t = " ".join(toks)
        texts.append(t)
        near_pairs.append((src, len(texts) - 1, jaccard(texts[src], t)))
    templates = [
        "terms of service apply to all users of this site please read the "
        "terms carefully before continuing to use the service",
        "subscribe to our newsletter for weekly updates on products offers and "
        "news from our team you can unsubscribe at any time",
        "this page uses cookies to improve your experience by continuing to "
        "browse you agree to our use of cookies and privacy policy",
    ]
    boiler = []
    for i in range(n_boiler):
        t = templates[i % len(templates)] + f" ref {int(rng.integers(0, 10**6))}"
        texts.append(t)
        boiler.append(len(texts) - 1)
    # shuffle positions so planted docs spread across the historical
    # corpus and the arriving slice; ids stay 0..n-1 after the shuffle
    order = rng.permutation(len(texts))
    new_id = np.empty(len(texts), dtype=np.int64)
    new_id[order] = np.arange(len(texts))
    texts = [texts[i] for i in order]
    remap = lambda i: int(new_id[i])  # noqa: E731
    langs = rng.choice(["en", "es", "de", "fr"], size=len(texts), p=(0.55, 0.15, 0.15, 0.15))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 8}" for i in range(len(texts))],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    centers = rng.normal(0.0, 1.0, (n_clusters, dim))
    labels = rng.integers(0, n_clusters, len(texts))
    vecs = centers[labels] + rng.normal(0.0, 0.15, (len(texts), dim))
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(len(texts), dtype=np.int64),
            "embedding": [v.astype(np.float32) for v in vecs],
            "label": labels.astype(np.int32),
        }
    )
    return Corpus(
        docs=docs,
        embeddings=emb,
        exact_pairs=[(remap(a), remap(b)) for a, b in exact_pairs],
        near_pairs=[(remap(a), remap(b), j) for a, b, j in near_pairs],
        boilerplate_ids=[remap(i) for i in boiler],
        n_hist=int(len(texts) * (1 - arriving_frac)),
    )
