import pytest

from stats import covered, files_to_batches, median, percentile


def test_percentile_refuses_thin_tails():
    with pytest.raises(ValueError):
        percentile(list(range(199)), 0.95)  # 9 samples beyond p95
    assert percentile([float(x) for x in range(200)], 0.95) == pytest.approx(189.05)
    with pytest.raises(ValueError):
        percentile(list(range(99)), 0.90)


def test_median_needs_no_tail():
    assert percentile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_files_to_batches_on_synthetic_progress():
    files = [3, 1, 2, 5, 1, 1]
    # batch 0 took the first two files, batch 1 the next one, batch 2 the rest
    assert files_to_batches(files, [4, 2, 7]) == [0, 0, 1, 2, 2, 2]
    assert files_to_batches(files, [13]) == [0] * 6


def test_files_to_batches_rejects_what_it_cannot_explain():
    with pytest.raises(ValueError, match="inside a file"):
        files_to_batches([3, 3], [2, 4])
    with pytest.raises(ValueError, match="never committed"):
        files_to_batches([3, 3], [3])
    with pytest.raises(ValueError, match="committed"):
        files_to_batches([3, 3], [3, 3, 1])


def test_covered_merges_overlaps():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == 1.0
    assert covered([], 0, 1) == 0
