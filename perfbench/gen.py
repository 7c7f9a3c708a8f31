"""Seeded, single-process input generators for the benchmark.

Two input kinds, both written as plain files the engine reads:

- ``WireTraffic``: wire-JSON batch files in the ``streaming.ingest.WIRE``
  shape (key / value / topic), landed into the stream's source
  directory by an atomic rename. It keeps the exact tally the
  pipeline's serving table must end up with: Spark drops a row from
  the windowed aggregation when its window's end is at or before the
  watermark the micro-batch runs under, and that watermark is the max
  event time of every earlier batch minus the 10-minute delay.
- ``write_lake``: a hive-partitioned schema-R parquet lake
  (``date=YYYY-MM-DD/hour=HH``), as the streaming ingest writes it; the
  warm-up backfills it.

The catalog workload's tables come from the repository's own fixture
generator, ``tools/gen_sf1.py``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from spark_app_twitter_spark.functions.text import (
    NEGATIVE_WORDS,
    POSITIVE_WORDS,
    _lexicon_emotion_pandas,
    _lexicon_sentiment_pandas,
)
from spark_app_twitter_spark.schemas import EMOTIONS

TOPICS = ("Zelensky", "Putin", "Biden", "NATO", "NoFlyZone")
WORDS = (
    "spark stream war peace talks news today city people army support "
    "aid deal vote election world "
).split() + list(POSITIVE_WORDS) + list(NEGATIVE_WORDS)

HOUR_MS = 3_600_000
MIN_MS = 60_000
WATERMARK_MS = 10 * MIN_MS
# Wire traffic: each batch moves event time on by a whole hour. The
# shares below are ASSUMED, not measured: neither the reference system
# nor any fixture in the repository records per-topic volume or event
# lateness. They are chosen so that every path runs (a skewed topic
# mix, out-of-order events the watermark still admits, late events it
# drops); ASSUMED lists them in every run's detail line.
TOPIC_ZIPF_EXPONENT = 1.1  # the first topic carries ~46% of events
TOPIC_WEIGHTS = np.array([1 / (i + 1) ** TOPIC_ZIPF_EXPONENT for i in range(len(TOPICS))])
TOPIC_WEIGHTS /= TOPIC_WEIGHTS.sum()
OUT_OF_ORDER_SHARE = 0.10
OUT_OF_ORDER_LAG_MAX_MIN = 9  # inside the 10-minute watermark
LATE_SHARE = 0.02
ASSUMED = ("topic_zipf_exponent", "out_of_order_share", "out_of_order_lag_max_min",
           "beyond_watermark_share")
# 2024-01-01T00:00:00Z; each seed starts on its own day of the year.
EPOCH0_MS = 1_704_067_200_000
DAY_MS = 24 * HOUR_MS


def _iso(ms: int) -> str:
    s, r = divmod(ms, 1000)
    return np.datetime64(s, "s").astype(str) + f".{r:03d}Z"


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(3, 16, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(WORDS[i] for i in idx[at:at + ln]))
        at += ln
    return out


@dataclass
class Cell:
    """Expected serving row for one (hour, topic)."""

    counts: int = 0
    positive: int = 0
    emotions: dict = field(default_factory=lambda: {e: 0 for e in EMOTIONS})


class WireTraffic:
    """Closed-loop batch source for ``pipeline_replay``.

    Batch ``b`` covers event-time hour ``b``. Of its events,
    ``OUT_OF_ORDER_SHARE`` land up to ``OUT_OF_ORDER_LAG_MAX_MIN``
    minutes behind the max event time already seen (inside the
    10-minute watermark, so they still count) and ``LATE_SHARE`` land
    in an hour whose window has already closed (so Spark drops them).
    The first batch runs before any watermark and carries neither.
    """

    def __init__(self, seed: int, events_per_batch: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.params = {
            "events_per_batch": events_per_batch,
            "advance_min": HOUR_MS // MIN_MS,
            "topic_zipf_exponent": TOPIC_ZIPF_EXPONENT,
            "topic_weights": [round(w, 4) for w in TOPIC_WEIGHTS],
            "out_of_order_share": OUT_OF_ORDER_SHARE,
            "out_of_order_lag_max_min": OUT_OF_ORDER_LAG_MAX_MIN,
            "beyond_watermark_share": LATE_SHARE,
            "watermark_min": WATERMARK_MS // MIN_MS,
            "assumed_not_measured": list(ASSUMED),
        }
        self.n = events_per_batch
        self.t0 = EPOCH0_MS + (seed % 300) * DAY_MS
        self.max_ts: int | None = None
        self.batches = 0
        self.next_id = 0
        self.events: list[tuple[str, str, int]] = []  # (key, topic, ts)
        self.cells: dict[tuple[int, str], Cell] = {}
        self.dropped = 0
        self.late_groups = 0  # (batch, hour, topic) groups among late events

    def watermark(self) -> int:
        """Watermark (ms) the next micro-batch with data runs under."""
        return 0 if self.max_ts is None else self.max_ts - WATERMARK_MS

    def next_batch(self) -> list[str]:
        rng, n = self.rng, self.n
        lo = self.t0 + self.batches * HOUR_MS
        ts = rng.integers(lo, lo + HOUR_MS, n)
        kind = rng.random(n)
        wm = self.watermark()
        if self.max_ts is not None:
            ooo = kind < OUT_OF_ORDER_SHARE
            ts[ooo] = self.max_ts - rng.integers(
                1, OUT_OF_ORDER_LAG_MAX_MIN * MIN_MS, int(ooo.sum()))
            closed_end = (wm // HOUR_MS) * HOUR_MS  # a window ending here is closed
            late = kind > 1 - LATE_SHARE
            ts[late] = closed_end - rng.integers(1, HOUR_MS, int(late.sum()))
        topics = rng.choice(len(TOPICS), n, p=TOPIC_WEIGHTS)
        texts = pd.Series(_texts(rng, n))
        positive = (_lexicon_sentiment_pandas(texts) == "positive").tolist()
        emotions = _lexicon_emotion_pandas(texts).tolist()
        lines, late_groups = [], set()
        for t, ti, text, pos, emo in zip(ts.tolist(), topics.tolist(), texts, positive, emotions):
            topic, eid = TOPICS[ti], self.next_id
            self.next_id += 1
            key = f"{topic[:2].upper()}{eid}"
            payload = {"data": {"id": str(eid), "created_at": _iso(t), "text": text}}
            lines.append(json.dumps(
                {"key": key, "value": json.dumps(payload), "topic": topic}))
            self.events.append((key, topic, t))
            hour = (t // HOUR_MS) * HOUR_MS
            if hour + HOUR_MS <= wm:
                self.dropped += 1
                late_groups.add((hour, topic))
                continue
            cell = self.cells.setdefault((hour, topic), Cell())
            cell.counts += 1
            cell.positive += pos
            cell.emotions[emo] += 1
        self.late_groups += len(late_groups)
        batch_max = int(ts.max())
        self.max_ts = batch_max if self.max_ts is None else max(self.max_ts, batch_max)
        self.batches += 1
        return lines

    def on_time_total(self) -> int:
        return sum(c.counts for c in self.cells.values())


def day_of(ms: int) -> str:
    """UTC date (YYYY-MM-DD) of an epoch-millisecond timestamp."""
    return str(np.datetime64(ms, "ms"))[:10]


def land(lines: list[str], staging: str, inbox: str, name: str) -> None:
    """Write a batch file beside the source directory, then rename it
    in, so the file source never lists a half-written file."""
    tmp = os.path.join(staging, name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.rename(tmp, os.path.join(inbox, name))


def write_lake(path: str, seed: int, events: int) -> str:
    """One day of schema-R parquet lake, one file per (date, hour)
    partition. Returns the day (YYYY-MM-DD)."""
    rng = np.random.default_rng(seed)
    day0 = EPOCH0_MS + (seed % 300) * DAY_MS
    ts = np.sort(rng.integers(day0, day0 + DAY_MS, events))
    topics = np.array(TOPICS)[rng.choice(len(TOPICS), events, p=TOPIC_WEIGHTS)]
    keys = np.array([f"{t[:2].upper()}{i}" for i, t in enumerate(topics)])
    texts = np.array(_texts(rng, events), dtype=object)
    hours = ts // HOUR_MS
    bounds = np.flatnonzero(np.diff(hours)) + 1
    for lo, hi in zip(np.r_[0, bounds], np.r_[bounds, events]):
        part = os.path.join(path, f"date={day_of(day0)}",
                            f"hour={int(hours[lo]) % 24:02d}")
        os.makedirs(part)
        pq.write_table(pa.table({
            "key": pa.array(keys[lo:hi]),
            "created_at": pa.array(ts[lo:hi] * 1000, pa.timestamp("us", tz="UTC")),
            "text": pa.array(texts[lo:hi], pa.string()),
            "topic": pa.array(topics[lo:hi]),
        }), os.path.join(part, "part-0.parquet"))
    return day_of(day0)
