import numpy as np
import pandas as pd
import pytest

import stats
from tracing import Job, busy_seconds, jobs_within


@pytest.mark.parametrize("n", [11, 12, 20, 37, 100, 1000])
def test_tail_keeps_ten_beyond(n):
    xs = np.random.default_rng(n).permutation(np.arange(n, dtype=float))
    v, pct, beyond = stats.tail(xs)
    assert beyond >= 10 and (xs > v).sum() >= 10
    # the next higher sample would leave fewer than ten beyond it
    assert (xs > v + 1).sum() < 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_without_enough_samples_is_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)


def test_exact_knn_matches_brute_force():
    rng = np.random.default_rng(0)
    base, q = rng.normal(size=(500, 6)), rng.normal(size=(7, 6))
    ids, dists = stats.exact_knn(q, base, 5)
    d = ((q[:, None, :] - base[None, :, :]) ** 2).sum(-1)
    np.testing.assert_array_equal(ids, np.argsort(d, axis=1)[:, :5])
    np.testing.assert_allclose(dists, np.sort(d, axis=1)[:, :5])


def _result(q, base, k):
    ids, dists = stats.exact_knn(q, base, k)
    return pd.DataFrame({
        "qid": np.repeat(np.arange(len(q)), k),
        "pos": np.tile(np.arange(k), len(q)),
        "id": ids.ravel(),
        "dist": dists.ravel(),
    }), ids


def test_check_result_accepts_exact_answer():
    rng = np.random.default_rng(1)
    base, q = rng.normal(size=(300, 4)), rng.normal(size=(5, 4))
    pdf, ids = _result(q, base, 10)
    got, problems = stats.check_result(pdf, np.arange(5), 10, base, q)
    assert problems == []
    np.testing.assert_array_equal(got, ids)


def test_one_dropped_neighbour_is_a_failed_operation():
    from workloads import Batch, BoundedGrid, Check

    wl = BoundedGrid(seed=1)
    pos = np.arange(4)
    pdf, ids = _result(wl.pool[pos], wl.corpus, 10)
    wl.gt_ids = np.zeros((len(wl.pool), 10), dtype=np.int64)
    wl.gt_ids[pos] = ids
    dropped = pdf.drop(index=pdf.index[(pdf.qid == 2) & (pdf.pos == 9)])
    batch = Batch(0, 4, 1.0, (0.0, 1.0), dropped, np.arange(4), pos, 10, 0.0, np.ones(4, int))
    chk = Check()
    wl.check_batches([batch], chk)
    assert chk.attempted == 4 and chk.failed == 4 and chk.problems

    # the same batch complete passes; a wrong neighbour misses the bound
    chk = Check()
    wl.check_batches([Batch(0, 4, 1.0, (0.0, 1.0), pdf, np.arange(4), pos, 10, 0.0,
                            np.ones(4, int))], chk)
    assert (chk.failed, chk.problems) == (0, [])
    wl.gt_ids[pos[1], 9] = -5
    chk = Check()
    wl.check_batches([Batch(0, 4, 1.0, (0.0, 1.0), pdf, np.arange(4), pos, 10, 0.0,
                            np.ones(4, int))], chk)
    assert chk.failed == 1


def test_oracle_nprobe():
    ranked = np.array([[2, 0, 1, 3]])
    true_lists = np.array([[2, 2, 1, 3]])
    assert stats.oracle_nprobe(ranked, true_lists, 4, 0.5).tolist() == [1]
    assert stats.oracle_nprobe(ranked, true_lists, 4, 0.25).tolist() == [3]
    assert stats.oracle_nprobe(ranked, true_lists, 4, 0.0).tolist() == [4]


def test_busy_seconds_merges_overlapping_jobs():
    jobs = [Job(1.0, 2.0), Job(1.5, 3.0), Job(4.0, 4.5), Job(9.0, 9.5)]
    assert busy_seconds(jobs, 0.0, 5.0) == pytest.approx(2.5)
    assert [j.submit for j in jobs_within(jobs, 1.2, 4.0)] == [1.5, 4.0]


def test_frame_digest_ignores_row_order():
    a = pd.DataFrame({"doc_id": [1, 2, 3], "cluster_id": [1, 1, 3], "cluster_size": [2, 2, 1]})
    assert stats.frame_digest(a) == stats.frame_digest(a.iloc[::-1])
    b = a.assign(cluster_id=[1, 2, 3])
    assert stats.frame_digest(a) != stats.frame_digest(b)
