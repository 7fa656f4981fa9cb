import numpy as np
import pyarrow as pa

import gen


def test_text_corpus_is_deterministic_at_a_seed():
    a = gen.text_corpus(5, 2000, 40, 50, 30)
    b = gen.text_corpus(5, 2000, 40, 50, 30)
    c = gen.text_corpus(6, 2000, 40, 50, 30)
    for x, y in zip(a, b):
        assert np.array_equal(x, y)
    assert not np.array_equal(a[0], c[0])
    voc = gen.vocab()
    assert gen.texts(a[0], voc).equals(gen.texts(b[0], voc))


def test_exactly_one_percent_injected_and_all_found():
    corpus, ev, injected = gen.text_corpus(11, 5000, 50, 100, 40)
    assert len(injected) == 50 == len(np.unique(injected))
    found = gen.contaminated_docs(corpus, ev, chunk=700)
    assert np.isin(injected, found).all()
    # the oracle agrees with a plain set intersection
    ev_grams = {tuple(d[i:i + 3]) for d in ev.tolist() for i in range(38)}
    slow = [k for k, d in enumerate(corpus.tolist())
            if any(tuple(d[i:i + 3]) in ev_grams for i in range(48))]
    assert found.tolist() == slow


def test_texts_join_vocab_words():
    words = np.array([[0, 1, 2], [49_999, 0, 7]], dtype=np.int32)
    out = gen.texts(words, gen.vocab()).to_pylist()
    assert out == ["w00000 w00001 w00002", "w49999 w00000 w00007"]


def test_probe_keys_half_members_half_true_negatives():
    members = np.array([3, 9, 27], dtype=np.int64)
    keys = gen.probe_keys(1, members, 1001, 1 << 20)
    assert np.isin(keys[0::2], members).all() and len(keys[0::2]) == 501
    assert (keys[1::2] >= 1 << 20).all() and len(keys[1::2]) == 500
    assert np.array_equal(keys, gen.probe_keys(1, members, 1001, 1 << 20))


def test_write_parquet_splits_into_files(tmp_path):
    t = pa.table({"k": np.arange(10)})
    gen.write_parquet(t, str(tmp_path / "t"), 4)
    import pyarrow.parquet as pq
    back = pq.read_table(str(tmp_path / "t"))
    assert len(list((tmp_path / "t").iterdir())) == 4
    assert sorted(back["k"].to_pylist()) == list(range(10))
