import pytest

from stats import (attribute_windows, batch_watermarks, checked_quantile, iso_ms, quantile,
                   samples_beyond, supports)


def test_percentile_needs_ten_samples_beyond():
    assert samples_beyond(20, 0.5) == 10 and supports(20, 0.5)
    assert not supports(19, 0.5)
    assert samples_beyond(100, 0.9) == 10 and supports(100, 0.9)
    assert not supports(99, 0.9)
    with pytest.raises(ValueError):
        checked_quantile(list(range(99)), 0.9)
    assert checked_quantile(list(range(100)), 0.9) == pytest.approx(89.1)


def test_quantile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0]
    assert quantile(xs, 0.5) == 2.5
    assert quantile(xs, 0.0) == 1.0 and quantile(xs, 1.0) == 5.0


def progress(batch_id, watermark=None, rows=0):
    p = {"batchId": batch_id, "numInputRows": rows}
    if watermark is not None:
        p["eventTime"] = {"watermark": watermark}
    return p


def test_window_attributed_to_first_batch_whose_watermark_reaches_its_end():
    prog = [
        progress(2, "2020-09-14T09:02:30.000Z", 10),
        progress(0, "1970-01-01T00:00:00.000Z", 10),
        progress(1, "2020-09-14T09:01:59.999Z", 10),
        progress(3, "2020-09-14T09:03:00.000Z"),  # a no-data batch carries the watermark too
    ]
    assert [b for b, _ in batch_watermarks(prog)] == [0, 1, 2, 3]
    ends = [iso_ms("2020-09-14T09:01:00.000Z"), iso_ms("2020-09-14T09:02:00.000Z"),
            iso_ms("2020-09-14T09:03:00.000Z"), iso_ms("2020-09-14T09:04:00.000Z")]
    got = attribute_windows(prog, ends)
    assert [got[e] for e in ends] == [1, 2, 3, None]


def test_batch_without_event_time_has_no_watermark():
    assert batch_watermarks([progress(0)]) == [(0, 0)]
