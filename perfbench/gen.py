"""Seeded input generator for the benchmark.

Everything the library sees in a benchmark run comes from here, and the
same seed always yields byte-identical inputs.

Events (the bronze source) are drawn session by session:

- users are Zipf-like in activity, with the top user's share of sessions
  capped (an uncapped head user chains into one giant open session and
  turns every tick's lookback into a history re-read);
- session lengths are geometric with a stated mean, and inter-event times
  stay below half the 30-minute session gap, so removing any one event
  never splits a session;
- the last day is cut into ``ticks`` time slices that land one after
  another. Each slice carries a stated share of late events (interior
  events of a session delivered one slice late, including events of the
  previous day delivered in the first slices) and a stated share of
  duplicate re-deliveries (byte-identical copies of earlier events).

Late events are interior on purpose: an event that moved a session's
start or bridged two sessions would change the content-derived session
id, and the incremental silver MERGE keys on that id.

Corpus tables (documents, embeddings) follow the layout of the driver's
fixture tables, so every corpus query runs unchanged against them.

Run ``python3 perfbench/gen.py`` for the self-test.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GAP_S = 30 * 60                 # the library's session gap
EVENT_TYPES = np.array(["signup", "click", "view", "purchase", "error"])
DAY_S = 86_400


@dataclass(frozen=True)
class EventSpec:
    users: int = 1_500
    days: int = 5
    sessions_per_day: int = 500
    mean_session_events: float = 12.0
    mean_step_s: float = 60.0       # mean inter-event time inside a session
    zipf_s: float = 1.1
    top_user_cap: float = 0.01      # max share of sessions owned by one user
    ticks: int = 12                 # slices of the last day
    late_share: float = 0.03        # share of a slice's events that arrive late
    dup_share: float = 0.02         # share of a slice's rows that re-deliver
    start: str = "2024-01-01"


@dataclass
class EventSet:
    spec: EventSpec
    events: pd.DataFrame            # every distinct event, ts-sorted
    backfill: pd.DataFrame          # delivered before the first tick
    slices: list[pd.DataFrame]      # delivered at tick i (late + dups included)
    props: dict                     # measured properties of this draw

    def delivered(self) -> pd.DataFrame:
        """Every row the source ever delivers, duplicates included."""
        return pd.concat([self.backfill, *self.slices], ignore_index=True)


def _capped_zipf(n: int, s: float, cap: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    w /= w.sum()
    for _ in range(64):             # water-fill the excess over the cap
        over = w > cap
        if not over.any():
            break
        excess = (w[over] - cap).sum()
        w[over] = cap
        w[~over] += excess * w[~over] / w[~over].sum()
    return w


def generate_events(spec: EventSpec, seed: int) -> EventSet:
    rng = np.random.default_rng([seed, 1])
    t0 = int(dt.datetime.fromisoformat(spec.start)
             .replace(tzinfo=dt.timezone.utc).timestamp())
    n_sess = spec.sessions_per_day * spec.days
    weights = _capped_zipf(spec.users, spec.zipf_s, spec.top_user_cap)
    # users keep their rank but get shuffled ids, so id order says nothing
    user_ids = rng.permutation(spec.users).astype(np.int64)
    owner = user_ids[rng.choice(spec.users, size=n_sess, p=weights)]
    day = np.repeat(np.arange(spec.days), spec.sessions_per_day)
    start = (t0 + day * DAY_S
             + rng.uniform(0, DAY_S - 1, size=n_sess))
    length = rng.geometric(1.0 / spec.mean_session_events, size=n_sess)
    sess = np.repeat(np.arange(n_sess), length)
    n = len(sess)
    steps = np.minimum(rng.exponential(spec.mean_step_s, size=n),
                       GAP_S / 2 - 1)
    first = np.r_[0, np.cumsum(length)[:-1]]
    steps[first] = 0.0
    offset = np.cumsum(steps)
    offset -= np.repeat(offset[first], length)
    ts = start[sess] + offset
    pos = np.arange(n) - np.repeat(first, length)
    interior = (pos > 0) & (pos < np.repeat(length, length) - 1)
    ev = pd.DataFrame({
        "ts_s": ts,
        "user_id": owner[sess],
        "event_type": EVENT_TYPES[rng.integers(0, 5, size=n)],
        "value": np.round(rng.gamma(1.0, 50.0, size=n), 2),
        "k": rng.integers(0, 100, size=n),
        "_sess": sess,
        "_interior": interior,
    }).sort_values(["ts_s", "user_id"], kind="stable", ignore_index=True)
    ev.insert(0, "event_id", np.arange(n, dtype=np.int64))

    # slice index: -1 = backfill (days before the last); 0..ticks-1 on
    # the last day. Late events move one slice later; at most one per
    # session, so no session loses two neighbouring events at once.
    last_day0 = t0 + (spec.days - 1) * DAY_S
    width = DAY_S / spec.ticks
    slot = np.where(ev.ts_s < last_day0, -1,
                    np.minimum((ev.ts_s - last_day0) // width,
                               spec.ticks - 1)).astype(int)
    # the previous day's last slice-width of events also competes for
    # lateness: those are delivered in tick 0, across the day boundary
    eligible = ev._interior.to_numpy() & (
        (slot >= 0) & (slot < spec.ticks - 1)
        | (ev.ts_s.to_numpy() >= last_day0 - width) & (slot == -1))
    pick = eligible & (rng.random(n) < spec.late_share)
    pick &= ~pd.Series(pick).groupby(ev._sess.to_numpy()).cumsum() \
        .gt(1).to_numpy()
    delivered_slot = slot + pick.astype(int)
    ev["_slot"] = delivered_slot
    ev["_late"] = pick

    events = ev
    backfill = ev[ev._slot == -1]
    slices = []
    delivered_ids = backfill.event_id.to_numpy()
    for i in range(spec.ticks):
        fresh = ev[ev._slot == i]
        n_dup = int(round(len(fresh) * spec.dup_share))
        dup = events.iloc[rng.choice(delivered_ids, size=n_dup,
                                     replace=False)] if n_dup else fresh[:0]
        slices.append(pd.concat([fresh.assign(_dup=False),
                                 dup.assign(_dup=True)], ignore_index=True))
        delivered_ids = np.r_[delivered_ids, fresh.event_id.to_numpy()]
    es = EventSet(spec, events, backfill.assign(_dup=False), slices, {})
    es.props = measure(es)
    return es


def _session_starts(ts: np.ndarray, users: np.ndarray):
    """Gap sessionization in numpy: (sort order, session start of each
    event in that order)."""
    order = np.lexsort((ts, users))
    t, u = ts[order], users[order]
    new = np.r_[True, (u[1:] != u[:-1]) | (np.diff(t) > GAP_S)]
    return order, t[new][np.cumsum(new) - 1]


def measure(es: EventSet) -> dict:
    """The input properties the benchmark pins and reports."""
    ev = es.events
    spec = es.spec
    sess_per_user = pd.Series(ev.groupby("_sess").user_id.first()) \
        .value_counts()
    last_day0 = (dt.datetime.fromisoformat(spec.start)
                 .replace(tzinfo=dt.timezone.utc).timestamp()
                 + (spec.days - 1) * DAY_S)
    # Per tick, over the events delivered so far: the lookback reach is
    # how far before a slice user's earliest new event that user's
    # earliest touched session starts (the largest over users), and the
    # lookback rows are the slice users' events from that start on,
    # which is what run_silver sessionizes at that tick.
    seen = es.backfill[["ts_s", "user_id", "event_id"]]
    reach, rows = [], []
    for sl in es.slices:
        seen = pd.concat([seen, sl[["ts_s", "user_id", "event_id"]]])
        d = seen.drop_duplicates("event_id")
        order, st = _session_starts(d.ts_s.to_numpy(),
                                    d.user_id.to_numpy())
        start_of = pd.Series(st, index=d.event_id.to_numpy()[order])
        first_new = sl.groupby("user_id").ts_s.min()
        heads = start_of.loc[sl.event_id.to_numpy()].groupby(
            sl.user_id.to_numpy()).min()
        r = (first_new - heads.reindex(first_new.index)).clip(lower=0)
        reach.append(float(r.max()))
        ts_all, u_all = d.ts_s.to_numpy(), d.user_id.to_numpy()
        lo = heads.reindex(u_all).to_numpy()
        rows.append(int(np.sum(ts_all >= np.nan_to_num(lo, nan=np.inf))))
    tick_rows = [len(s) for s in es.slices]
    return {
        "events": int(len(ev)),
        "delivered_rows": int(len(es.backfill) + sum(tick_rows)),
        "users_active": int(ev.user_id.nunique()),
        "top_user_session_share": round(
            float(sess_per_user.iloc[0] / sess_per_user.sum()), 5),
        "mean_session_events": round(
            float(ev.groupby("_sess").size().mean()), 3),
        "backfill_rows": int(len(es.backfill)),
        "tick_rows": tick_rows,
        "late_share": round(float(sum(s._late.sum() for s in es.slices)
                                  / max(1, sum(tick_rows))), 5),
        "late_across_day": int(sum(((s.ts_s < last_day0) & ~s._dup).sum()
                                   for s in es.slices)),
        "dup_share": round(float(sum(s._dup.sum() for s in es.slices)
                                 / max(1, sum(tick_rows))), 5),
        "lookback_reach_s_max": round(max(reach), 1),
        "lookback_reach_s": [round(x, 1) for x in reach],
        "lookback_rows": rows,
    }


def _arrow_events(df: pd.DataFrame, utc: bool) -> pa.Table:
    ts = pd.to_datetime((df.ts_s.to_numpy() * 1e6).astype(np.int64),
                        unit="us")
    return pa.table({
        "event_id": pa.array(df.event_id.to_numpy(), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC" if utc else None)),
        "user_id": pa.array(df.user_id.to_numpy(), pa.int64()),
        "event_type": pa.array(df.event_type.to_numpy(), pa.string()),
        "value": pa.array(df.value.to_numpy(), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in df.k], pa.string()),
    })


def write_events(df: pd.DataFrame, path: str, utc: bool = True) -> None:
    """One parquet file of events. ``utc=True`` stores instants (the
    bronze source's TimestampType); ``utc=False`` stores naive times like
    the driver's fixture ``events`` table, which the DuckDB oracle reads."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(_arrow_events(df, utc), path)


WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def write_corpus(sf_dir: str, seed: int, docs: int, vectors: int,
                 dims: int = 64, sources: int = 20,
                 near_dup_share: float = 0.05) -> None:
    """``documents`` and ``embeddings`` in the fixture layout: word-salad
    texts over a 31-word vocabulary with a share of near duplicates
    (another document's text plus " dup"), and unit vectors drawn around
    ten labelled centres."""
    rng = np.random.default_rng([seed, 2])
    n_words = rng.integers(10, 101, size=docs)
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), size=k)])
             for k in n_words]
    for i in np.flatnonzero(rng.random(docs) < near_dup_share):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.choice(5, size=docs, p=LANG_P)]),
        "source": pa.array([f"src{i % sources}" for i in range(docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(sf_dir, "documents.parquet"))
    centres = rng.normal(size=(10, dims))
    label = rng.integers(0, 10, size=vectors)
    v = centres[label] + rng.normal(scale=1.5, size=(vectors, dims))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(vectors), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), os.path.join(sf_dir, "embeddings.parquet"))


def _digest(es: EventSet) -> str:
    import hashlib
    h = hashlib.sha256()
    for df in (es.backfill, *es.slices):
        h.update(pd.util.hash_pandas_object(
            df[["event_id", "ts_s", "user_id", "event_type", "value", "k"]],
            index=False).to_numpy().tobytes())
    return h.hexdigest()


def selftest() -> None:
    """Same seed -> identical inputs; stated properties hold."""
    spec = EventSpec()
    a, b = generate_events(spec, 7), generate_events(spec, 7)
    c = generate_events(spec, 8)
    assert _digest(a) == _digest(b), "same seed, different events"
    assert _digest(a) != _digest(c), "different seeds, same events"
    p = a.props
    assert p["top_user_session_share"] <= spec.top_user_cap * 1.5, p
    assert abs(p["mean_session_events"] - spec.mean_session_events) \
        < 0.1 * spec.mean_session_events, p
    assert 0.5 * spec.late_share < p["late_share"] < 1.5 * spec.late_share, p
    assert p["late_across_day"] > 0, p
    assert abs(p["dup_share"] - spec.dup_share / (1 + spec.dup_share)) \
        < 0.01, p
    # interior-only lateness keeps every open session inside a few gaps
    assert p["lookback_reach_s_max"] < 8 * GAP_S, p
    delivered = a.delivered()
    assert delivered.event_id.nunique() == len(a.events)
    assert len(delivered) == p["delivered_rows"]
    late = pd.concat(a.slices).query("_late")
    assert late._interior.all() and late._sess.is_unique
    # inter-event steps stay below half the gap, so late removal never
    # splits a session
    e = a.events.sort_values(["_sess", "ts_s"])
    steps = e.groupby("_sess").ts_s.diff().dropna()
    assert steps.max() < GAP_S / 2, steps.max()
    print(json.dumps({"selftest": "ok", "props": {
        k: v for k, v in p.items() if not isinstance(v, list)}}))


if __name__ == "__main__":
    selftest()
