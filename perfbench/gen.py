"""Seeded input generators for the benchmark.

The engine under test only ever sees the files written here:

* ``live``: an open-loop GeoJSON writer meant to run as its own single-threaded
  process (``python3 perfbench/gen.py --seed ...``). Every ``tick`` seconds it
  writes one newline-delimited GeoJSON file holding the events created during
  that tick, on a schedule that does not slow down when the engine does.
  Events carry the reference's property shape (``RECEIVED_ON``, ``N02_001`` in
  '11'..'18', ...) and are stamped with their creation time on an event clock
  that runs ``speedup`` times faster than the wall clock.
* ``replay_backlog``: parquet files ``(event_id, railway_class, rowtime)`` for
  the sliding-count drain, time-ordered across files so nothing is late under
  the jobs' zero-delay watermark.
* ``events_table``: the replay events in the registry's ``events`` layout.

Everything an engine sees is a pure function of the seed and the size
arguments; only the wall-clock write times vary between runs.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import sys
import time

RAILWAY_CLASSES = [str(c) for c in range(11, 19)]
LINE_NAMES = ["北海道新幹線", "中央線", "山手線", "東海道本線", "京浜東北線"]
OPERATORS = ["JR北海道", "JR東日本", "JR東海", "JR西日本", "東京メトロ"]
# Event clock origin; window boundaries are aligned to whole minutes from here.
EVENT_T0 = dt.datetime(2020, 9, 14, 9, 0, 0)
RECEIVED_ON_FMT = "%Y-%m-%dT%H:%M:%S.%f"


def received_on(t: dt.datetime) -> str:
    """Millisecond ISO-8601 text, the reference generator's format."""
    return t.strftime(RECEIVED_ON_FMT)[:-3]


def epoch_ms(t: dt.datetime) -> int:
    return round((t - dt.datetime(1970, 1, 1)).total_seconds() * 1000)


def feature_line(rng: random.Random, t: dt.datetime, railway_class: str) -> str:
    n02_002 = str(rng.randint(1, 5))
    return json.dumps(
        {
            "type": "Feature",
            "properties": {
                "RECEIVED_ON": received_on(t),
                "N02_001": railway_class,
                "N02_002": n02_002,
                "N02_003": rng.choice(LINE_NAMES),
                "N02_004": rng.choice(OPERATORS),
                "ID": f"{n02_002}_{rng.randint(1, 101)}",
                "COUNT": rng.randint(10, 20),
            },
        },
        ensure_ascii=False,
    )


def live_ticks(seed: int, rate: float, tick: float, speedup: float, n_ticks: int,
               t0: dt.datetime = EVENT_T0):
    """The open-loop schedule as data: one ``(lines, events)`` pair per tick.

    Tick ``k`` holds the events created in wall interval ``[k*tick, (k+1)*tick)``
    after the generator starts; ``events`` lists ``(railway_class, event_ms)``
    with event times in whole epoch milliseconds, as the text carries them.
    """
    rng = random.Random(seed)
    per_tick = int(round(rate * tick))
    ticks = []
    for k in range(n_ticks):
        offsets = sorted(rng.uniform(k * tick, (k + 1) * tick) for _ in range(per_tick))
        lines, events = [], []
        for off in offsets:
            ms = int(off * speedup * 1000)
            t = t0 + dt.timedelta(milliseconds=ms)
            c = rng.choice(RAILWAY_CLASSES)
            lines.append(feature_line(rng, t, c))
            events.append((c, epoch_ms(t)))
        ticks.append((lines, events))
    return ticks


def write_atomic(path: str, text: str) -> None:
    """Write under a hidden name, then rename: Spark's file source skips
    dot-files, so it never lists a half-written file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
    os.rename(tmp, path)


def run_live(seed: int, out_dir: str, rate: float, tick: float, speedup: float,
             seconds: float, manifest: str, start_at: float | None = None) -> dict:
    """Write one GeoJSON file per tick on a fixed wall schedule; record when
    each was due and when it landed, plus the per-(class, minute) counts."""
    n_ticks = int(round(seconds / tick))
    ticks = live_ticks(seed, rate, tick, speedup, n_ticks)
    os.makedirs(out_dir, exist_ok=True)
    wall0 = start_at if start_at is not None else time.time()
    written, late_max = [], 0.0
    counts: dict[str, int] = {}
    max_event_ms = epoch_ms(EVENT_T0)
    for k, (lines, events) in enumerate(ticks):
        due = wall0 + (k + 1) * tick
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        write_atomic(os.path.join(out_dir, f"tick-{k:06d}.json"), "\n".join(lines) + "\n")
        landed = time.time()
        late_max = max(late_max, landed - due)
        written.append([due, landed, len(lines)])
        for c, ms in events:
            key = f"{c}|{ms - ms % 60_000}"
            counts[key] = counts.get(key, 0) + 1
            max_event_ms = max(max_event_ms, ms)
    info = {
        "seed": seed,
        "rate": rate,
        "tick": tick,
        "speedup": speedup,
        "wall0": wall0,
        "event_t0_ms": epoch_ms(EVENT_T0),
        "max_event_ms": max_event_ms,
        "late_max_ms": late_max * 1000.0,
        "files": written,
        "counts": counts,
    }
    write_atomic(manifest, json.dumps(info))
    return info


def geojson_files(seed: int, out_dir: str, n_files: int, per_file: int,
                  t0: dt.datetime) -> None:
    """Fixed GeoJSON files (used for warm-up): ``per_file`` events each,
    0.1 s of event time apart, starting at ``t0``."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        lines = []
        for i in range(per_file):
            t = t0 + dt.timedelta(milliseconds=100 * (f * per_file + i))
            lines.append(feature_line(rng, t, rng.choice(RAILWAY_CLASSES)))
        write_atomic(os.path.join(out_dir, f"warm-{f:04d}.json"), "\n".join(lines) + "\n")


def replay_backlog(seed: int, out_dir: str, n_files: int, per_file: int,
                   mean_gap_s: float = 0.8, t0: dt.datetime = EVENT_T0):
    """Parquet replay files for the sliding drain; returns the events as numpy
    arrays ``(event_id, railway_class, rowtime_us)`` for the output check.

    Times increase across the whole backlog, so no file holds an event older
    than the watermark the previous file left behind.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = n_files * per_file
    gaps_us = rng.exponential(mean_gap_s * 1e6, n).astype(np.int64) + 1
    t0_us = int((t0 - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    rowtime = t0_us + np.cumsum(gaps_us)
    classes = np.array(RAILWAY_CLASSES)[rng.integers(0, len(RAILWAY_CLASSES), n)]
    ids = np.arange(n, dtype=np.int64)
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        s = slice(f * per_file, (f + 1) * per_file)
        table = pa.table(
            {
                "event_id": pa.array(ids[s]),
                "railway_class": pa.array(classes[s].tolist(), pa.string()),
                "rowtime": pa.array(rowtime[s], pa.timestamp("us")),
            }
        )
        tmp = os.path.join(out_dir, f".part-{f:05d}.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(out_dir, f"part-{f:05d}.parquet"))
    return ids, classes, rowtime


def trailing_counts(classes, rowtime_us, preceding_s: int = 30 * 60):
    """Per-event count of same-class events in ``[t - preceding, t]`` — the
    RANGE-frame count the sliding job must emit, peers included."""
    import numpy as np

    out = np.zeros(len(rowtime_us), dtype=np.int64)
    for c in np.unique(classes):
        idx = np.nonzero(classes == c)[0]
        t = rowtime_us[idx]
        ts = np.sort(t)
        hi = np.searchsorted(ts, t, side="right")
        lo = np.searchsorted(ts, t - preceding_s * 1_000_000, side="left")
        out[idx] = hi - lo
    return out


def events_table(out_dir: str, ids, classes, rowtime_us) -> None:
    """The same events as the registry's ``events`` table (``event_type`` is
    the key, ``ts`` the event time), for the batch form of the sliding count."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(ids)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(ids),
                "ts": pa.array(rowtime_us, pa.timestamp("us")),
                "user_id": pa.array(np.zeros(n, dtype=np.int64)),
                "event_type": pa.array(classes.tolist(), pa.string()),
                "value": pa.array(np.zeros(n)),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        os.path.join(out_dir, "events.parquet"),
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="open-loop GeoJSON generator")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--rate", type=float, required=True, help="events per wall second")
    p.add_argument("--tick", type=float, required=True, help="seconds between files")
    p.add_argument("--speedup", type=float, required=True, help="event clock / wall clock")
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--manifest", required=True)
    p.add_argument("--start-at", type=float, default=None, help="wall time of tick 0")
    a = p.parse_args(argv)
    run_live(a.seed, a.out, a.rate, a.tick, a.speedup, a.seconds, a.manifest, a.start_at)
    return 0


if __name__ == "__main__":
    sys.exit(main())
