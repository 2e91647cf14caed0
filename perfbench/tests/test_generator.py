import numpy as np

from generator import BOUND_CONFIGS, VectorSpace, config_of, documents


def space(seed):
    return VectorSpace(seed=seed, d=8, n_blobs=16)


def test_same_seed_same_inputs():
    a, b = space(5), space(5)
    np.testing.assert_array_equal(a.corpus(0, 9000)[1], b.corpus(0, 9000)[1])
    np.testing.assert_array_equal(a.train_queries(50), b.train_queries(50))
    np.testing.assert_array_equal(a.test_queries(0, 70), b.test_queries(0, 70))


def test_other_seed_other_inputs():
    assert not np.array_equal(space(5).corpus(0, 100)[1], space(6).corpus(0, 100)[1])


def test_id_ranges_regenerate_alone():
    """An ingest-style range equals the same rows of a larger range,
    across chunk boundaries."""
    s = space(3)
    ids, full = s.corpus(0, 10_000)
    sub_ids, sub = s.corpus(4_000, 9_000)
    np.testing.assert_array_equal(sub_ids, ids[4_000:9_000])
    np.testing.assert_array_equal(sub, full[4_000:9_000])


def test_query_streams_are_fresh_points():
    s = space(3)
    corpus = s.corpus(0, 2_000)[1]
    q = s.test_queries(0, 50)
    assert not np.isin(q[:, 0], corpus[:, 0]).any()
    assert not np.array_equal(q, s.train_queries(50))


def test_each_stream_is_its_own_query_set():
    s = space(3)
    np.testing.assert_array_equal(s.test_queries(0, 40, stream=7), s.test_queries(0, 40, stream=7))
    assert not np.isin(s.test_queries(0, 40, stream=7)[:, 0], s.test_queries(0, 40, stream=8)[:, 0]).any()


def test_bound_schedule_covers_grid():
    assert sorted(BOUND_CONFIGS) == sorted((k, b) for k in (10, 50, 100) for b in (0.01, 0.05, 0.1))
    for i in range(0, 9, 3):
        window = {config_of(i + j) for j in range(3)}
        assert {k for k, _ in window} == {10, 50, 100}
        assert {b for _, b in window} == {0.01, 0.05, 0.1}


def test_documents_are_seeded_and_hold_near_duplicates():
    ids, texts = documents(9, 300)
    assert documents(9, 300)[1] == texts and documents(10, 300)[1] != texts
    np.testing.assert_array_equal(ids, np.arange(300))
    # a near-duplicate shares all but a few words with an earlier document
    words = [set(t.split()) for t in texts]
    near = sum(
        any(len(w & words[j]) >= len(w) - 4 for j in range(i)) for i, w in enumerate(words)
    )
    assert 30 <= near <= 150
