import json
import os

import numpy as np

import gen


def test_live_schedule_is_a_function_of_the_seed():
    a = gen.live_ticks(7, rate=100, tick=0.1, speedup=60, n_ticks=5)
    b = gen.live_ticks(7, rate=100, tick=0.1, speedup=60, n_ticks=5)
    c = gen.live_ticks(8, rate=100, tick=0.1, speedup=60, n_ticks=5)
    assert a == b
    assert a != c
    assert all(len(lines) == 10 for lines, _ in a)
    props = json.loads(a[0][0][0])["properties"]
    assert props["N02_001"] in gen.RAILWAY_CLASSES and len(props["RECEIVED_ON"]) == 23


def test_live_event_clock_runs_speedup_times_faster():
    ticks = gen.live_ticks(1, rate=50, tick=0.2, speedup=60, n_ticks=3)
    t0 = gen.epoch_ms(gen.EVENT_T0)
    for k, (_, events) in enumerate(ticks):
        for _, ms in events:  # tick k covers wall [0.2k, 0.2(k+1)) -> event [12k, 12(k+1)) s
            assert 12_000 * k <= ms - t0 < 12_000 * (k + 1)


def test_run_live_writes_identical_files_for_one_seed(tmp_path):
    outs = []
    for run in range(2):
        out = tmp_path / f"out{run}"
        info = gen.run_live(3, str(out), rate=40, tick=0.05, speedup=120, seconds=0.2,
                            manifest=str(tmp_path / f"m{run}.json"))
        outs.append(({n: (out / n).read_text() for n in sorted(os.listdir(out))}, info["counts"]))
        assert info["late_max_ms"] >= 0 and len(info["files"]) == 4
    assert outs[0] == outs[1]
    assert sum(outs[0][1].values()) == 4 * 2


def test_replay_backlog_is_deterministic_and_time_ordered(tmp_path):
    import pyarrow.parquet as pq

    a = gen.replay_backlog(5, str(tmp_path / "a"), 3, 100)
    b = gen.replay_backlog(5, str(tmp_path / "b"), 3, 100)
    for x, y in zip(a, b):
        assert np.array_equal(x, y)
    files = sorted(os.listdir(tmp_path / "a"))
    assert files == ["part-00000.parquet", "part-00001.parquet", "part-00002.parquet"]
    maxes = [pq.read_table(tmp_path / "a" / f).column("rowtime").to_numpy().max() for f in files]
    mins = [pq.read_table(tmp_path / "a" / f).column("rowtime").to_numpy().min() for f in files]
    assert all(mins[i + 1] > maxes[i] for i in range(2))


def test_trailing_counts_match_a_direct_count():
    rng = np.random.default_rng(0)
    classes = np.array(["11", "12"])[rng.integers(0, 2, 300)]
    t = np.sort(rng.integers(0, 4 * 3600 * 10**6, 300))
    t[5] = t[4]  # equal timestamps count each other, as a RANGE frame does
    got = gen.trailing_counts(classes, t, preceding_s=1800)
    want = [int(((classes == c) & (t <= ti) & (t >= ti - 1800 * 10**6)).sum())
            for c, ti in zip(classes, t)]
    assert got.tolist() == want
