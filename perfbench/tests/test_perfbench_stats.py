"""The percentile rule and the open-loop latency bookkeeping."""

import pytest

import stats


def test_percentile_needs_ten_samples_beyond():
    assert stats.percentile(range(1, 22), 50) == 11
    with pytest.raises(ValueError):
        stats.percentile(range(1, 21), 50)
    assert stats.percentile(range(1, 102), 90) == 91
    with pytest.raises(ValueError):
        stats.percentile(range(1, 101), 90)
    assert stats.percentile(range(1, 1002), 99) == 991
    with pytest.raises(ValueError):
        stats.percentile(range(1, 1001), 99)


def test_percentile_interpolates_between_neighbours():
    # 26 samples: the median is halfway between the 13th and the 14th
    xs = list(range(26))
    assert stats.percentile(xs, 50) == 12.5
    assert stats.samples_beyond(26, 50) == 12


def test_p50_equal_to_p99_cannot_be_reported():
    # the symptom of a percentile resting on one or two samples
    with pytest.raises(ValueError):
        stats.percentile([5.0] * 40, 99)


def test_highest_supported():
    assert stats.highest_supported(20) is None
    assert stats.highest_supported(26) == 50
    assert stats.highest_supported(101) == 90
    assert stats.highest_supported(3000) == 99


def test_latency_runs_from_due_time_not_write_time():
    due = stats.due_times(100.0, 0.5, 3)
    assert due == [100.0, 100.5, 101.0]
    files = [("a", due[0], 2), ("b", due[1], 2), ("c", due[2], 2)]
    # a and b were read by batch 0, committed at 102.0; c by batch 1
    lat, missing = stats.file_latencies(files, {"a": 0, "b": 0, "c": 1}, [102.0, 103.5])
    assert lat == [2.0, 1.5, 2.5]
    assert missing == 0


def test_orders_sharing_a_file_are_one_sample():
    # 3,000 orders in 15 files: the orders of a file share their due and
    # commit times, so there are 15 samples and no median can be reported
    due = stats.due_times(0.0, 0.5, 15)
    files = [(f"f{k}", d, 200) for k, d in enumerate(due)]
    lat, missing = stats.file_latencies(
        files, {f"f{k}": k // 3 for k in range(15)}, [2.0, 3.5, 5.0, 6.5, 8.0])
    assert len(lat) == 15 and missing == 0
    with pytest.raises(ValueError):
        stats.percentile(lat, 50)
    # the same orders in 150 files of 20 support the median and p90
    due = stats.due_times(0.0, 0.05, 150)
    files = [(f"f{k}", d, 20) for k, d in enumerate(due)]
    lat, _ = stats.file_latencies(
        files, {f"f{k}": k // 25 for k in range(150)}, [2.0 + 1.25 * b for b in range(6)])
    assert len(lat) == 150
    assert stats.percentile(lat, 90) > stats.percentile(lat, 50)


def test_uncommitted_orders_are_counted_not_timed():
    files = [("a", 0.0, 3), ("b", 1.0, 2), ("c", 2.0, 4)]
    # b was never read; c was read by a batch whose commit never returned
    lat, missing = stats.file_latencies(files, {"a": 0, "c": 1}, [1.0])
    assert lat == [1.0]
    assert missing == 6


def test_generator_lateness():
    assert stats.late_by(10.0, 9.99) == 0.0
    assert stats.late_by(10.0, 10.25) == pytest.approx(0.25)
