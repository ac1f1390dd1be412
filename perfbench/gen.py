"""Seeded input generators. Every input the engine sees is made here,
before timing starts, from the run's ``--seed`` alone.

- Activity files in the reference's Kafka wire format (string id,
  epoch-millis date, nested event) for the flagship stream.
- A document corpus with planted exact and near duplicates for the
  curation job.
"""

from __future__ import annotations

import bisect
import itertools
import json
import math
import os
import random
from dataclasses import dataclass, field

#: Event types the reference producer emits; the flagship keeps two.
EVENT_TYPES = ("liked", "viewed", "bookmarked", "commented")
KEEP_TYPES = ("liked", "commented")
#: The reference producer's key cardinality: ids "1".."10".
USERS = 10
#: Event-time gap between consecutive events: the reference producer
#: sends one event every 0.8 s (1.25 events/s).
EVENT_GAP_MS = 800
WATERMARK_MS = 10_000
WINDOW_MS = 60_000
#: 2023-08-25 00:00 UTC, the reference's golden-test date.
BASE_MS = 1_692_921_600_000


def _zipf_cdf(n: int, s: float) -> list[float]:
    weights = [1.0 / (i + 1) ** s for i in range(n)]
    return list(itertools.accumulate(weights))


def _zipf_draw(rng: random.Random, cdf: list[float]) -> int:
    return bisect.bisect_left(cdf, rng.random() * cdf[-1])


# --------------------------------------------------------------------
# Activity stream
# --------------------------------------------------------------------

ON_TIME, LATE_IN_DELAY, LATE_DROPPED = "on_time", "late_in_delay", "late_dropped"


@dataclass
class ActivityFile:
    lines: list[str]
    #: Parsed rows of the well-formed lines: (id, date_ms, raw event_type, class).
    events: list[tuple[str, int, str, str]]


@dataclass
class ActivityGenerator:
    """Event-time-ordered activity files shaped like the reference
    producer's traffic: ids "1".."10", the four event types, and event
    time advancing one ``EVENT_GAP_MS`` per event (the producer sends one
    event per 0.8 s, stamped with the wall clock). Departures, for the
    checks and the workload: a Zipf skew over the ten ids (the producer
    draws them uniformly), ~10% upper-cased event types, ~1% malformed
    lines and two kinds of late events whose fate does not depend on
    micro-batch boundaries:

    - ``late_in_delay``: at most 5 s behind the newest kept event of
      all earlier files, so never behind any batch's watermark (the
      delay is 10 s);
    - ``late_dropped``: in a window that ends at least the watermark
      delay before the newest kept event two files back, so its window
      is closed, and the event dropped, whichever batch reads it.
    """

    seed: int
    users: int = USERS
    zipf_s: float = 1.1
    p_malformed: float = 0.01
    p_upper: float = 0.10
    p_late_in_delay: float = 0.05
    p_late_dropped: float = 0.02
    rng: random.Random = field(init=False)
    next_base_ms: int = field(init=False)
    #: Per file, the newest kept event of it and all earlier files.
    kept_max: list[int | None] = field(init=False, default_factory=list)

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)
        self._cdf = _zipf_cdf(self.users, self.zipf_s)
        # Seed-dependent sub-second start, never on a window boundary.
        self.next_base_ms = BASE_MS + 1 + self.rng.randrange(WINDOW_MS - 2)

    def file(self, n_events: int) -> ActivityFile:
        """The next ``n_events`` events of the traffic, as one file."""
        rng = self.rng
        span_ms = n_events * EVENT_GAP_MS
        base = self.next_base_ms
        self.next_base_ms = base + span_ms
        m_prev = self.kept_max[-1] if self.kept_max else None
        m_prev2 = self.kept_max[-2] if len(self.kept_max) >= 2 else None
        lines: list[str] = []
        events: list[tuple[str, int, str, str]] = []
        newest = m_prev  # None until some file held a kept event
        for _ in range(n_events):
            uid = str(_zipf_draw(rng, self._cdf) + 1)
            etype = rng.choice(EVENT_TYPES)
            if rng.random() < self.p_upper:
                etype = etype.upper() if rng.random() < 0.5 else etype.capitalize()
            r = rng.random()
            if m_prev is not None and r < self.p_late_in_delay:
                cls, ts = LATE_IN_DELAY, m_prev - rng.randrange(5_000)
            elif (m_prev2 is not None and r < self.p_late_in_delay + self.p_late_dropped
                  and m_prev2 - WATERMARK_MS - 2 * WINDOW_MS > BASE_MS):
                cls = LATE_DROPPED
                ts = m_prev2 - WATERMARK_MS - WINDOW_MS - rng.randrange(WINDOW_MS)
            else:
                cls, ts = ON_TIME, base + rng.randrange(span_ms)
            record = {"id": uid, "date": ts,
                      "event": {"event_type": etype,
                                "url": f"https://example.com/p/{rng.randrange(1000)}"}}
            line = json.dumps(record, separators=(",", ":"))
            if rng.random() < self.p_malformed:
                lines.append(line[: rng.randrange(5, len(line) - 5)])
                continue
            lines.append(line)
            events.append((uid, ts, etype, cls))
            if etype.lower() in KEEP_TYPES and cls != LATE_DROPPED:
                newest = ts if newest is None else max(newest, ts)
        self.kept_max.append(newest)
        return ActivityFile(lines, events)

    def final_watermark_ms(self) -> int:
        return self.kept_max[-1] - WATERMARK_MS


def write_lines(path: str, lines: list[str], mtime_ns: int) -> None:
    """Write one JSON-lines file with an explicit modification time: the
    file source consumes files in modification-time order, so distinct,
    increasing times fix the order files are read in."""
    with open(path, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    os.utime(path, ns=(mtime_ns, mtime_ns))


# --------------------------------------------------------------------
# Curation corpus
# --------------------------------------------------------------------

@dataclass
class Corpus:
    #: (doc_id, text or None)
    docs: list[tuple[int, str | None]]
    #: Planted exact-duplicate groups, each a sorted list of doc ids.
    exact_groups: list[list[int]]
    #: Planted near-duplicate pairs (id_a < id_b).
    near_pairs: list[tuple[int, int]]


def _word(i: int) -> str:
    consonants, vowels = "bcdfghjklmnprstvz", "aeiou"
    out = []
    i += 1
    while i:
        i, r = divmod(i, len(consonants) * len(vowels))
        out.append(consonants[r % len(consonants)] + vowels[r // len(consonants)])
    return "".join(out)


def corpus(seed: int, n_docs: int, vocab: int = 3000, zipf_s: float = 1.05,
           p_exact: float = 0.04, p_near: float = 0.06, p_empty: float = 0.005) -> Corpus:
    """Documents over a Zipf vocabulary with log-normal (skewed) lengths,
    plus planted exact copies, near copies (1-3 token substitutions)
    and a few null or empty texts. Base texts are distinct."""
    rng = random.Random(seed)
    words = [_word(i) for i in range(vocab)]
    cdf = _zipf_cdf(vocab, zipf_s)
    texts: list[str | None] = []
    originals: list[int] = []
    seen: set[str] = set()
    exact: dict[int, list[int]] = {}
    near: list[tuple[int, int]] = []
    while len(texts) < n_docs:
        r = rng.random()
        if originals and r < p_exact:
            src = rng.choice(originals)
            exact.setdefault(src, [src]).append(len(texts))
            texts.append(texts[src])
            continue
        if originals and r < p_exact + p_near:
            src = rng.choice(originals)
            toks = texts[src].split(" ")
            for _ in range(rng.randint(1, 3)):
                toks[rng.randrange(len(toks))] = words[rng.randrange(vocab)]
            text = " ".join(toks)
            if text in seen:
                continue
            seen.add(text)
            near.append((src, len(texts)))
            texts.append(text)
            continue
        if r < p_exact + p_near + p_empty:
            texts.append(None if rng.random() < 0.5 else "")
            continue
        n_tok = max(4, min(400, int(rng.lognormvariate(math.log(60), 0.6))))
        text = " ".join(words[_zipf_draw(rng, cdf)] for _ in range(n_tok))
        if text in seen:
            continue
        seen.add(text)
        originals.append(len(texts))
        texts.append(text)
    groups = sorted(sorted(g) for g in exact.values())
    return Corpus(list(enumerate(texts)), groups, near)
