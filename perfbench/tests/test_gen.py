"""The seeded input generator: determinism, vocabulary, id range, sizes."""

import filecmp
import os

import pyarrow.parquet as pq
import pytest

from perfbench import gen


@pytest.fixture(scope="module")
def src():
    return gen.Source(gen.source_dir())


def _corpus(src, tmp_path, name, seed, **kw):
    out = tmp_path / name
    sizes = gen.make_corpus(src, str(out), seed, 300, **kw)
    return out, sizes


def test_same_seed_is_byte_identical(src, tmp_path):
    a, _ = _corpus(src, tmp_path, "a", 7, n_vecs=50)
    b, _ = _corpus(src, tmp_path, "b", 7, n_vecs=50)
    for f in ("documents.parquet", "embeddings.parquet"):
        assert filecmp.cmp(a / f, b / f, shallow=False)


def test_other_seed_gives_other_corpus(src, tmp_path):
    a, _ = _corpus(src, tmp_path, "a", 7)
    b, _ = _corpus(src, tmp_path, "b", 8)
    ta = pq.read_table(a / "documents.parquet")["text"].to_pylist()
    tb = pq.read_table(b / "documents.parquet")["text"].to_pylist()
    assert sum(x != y for x, y in zip(ta, tb)) > 0.9 * len(ta)


def test_churn_is_byte_identical_per_seed(src, tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    sa = gen.make_churn(src, str(a), 3, 200, 2, 40, 5)
    sb = gen.make_churn(src, str(b), 3, 200, 2, 40, 5)
    assert sa == sb
    for f in os.listdir(a):
        assert filecmp.cmp(a / f, b / f, shallow=False), f


def test_topic_vocabulary_survives(src, tmp_path):
    from hadoop_ir_spark.catalog import TOPICS
    out, _ = _corpus(src, tmp_path, "a", 7)
    words = {w for t in pq.read_table(out / "documents.parquet")["text"].to_pylist()
             for w in t.split(" ")}
    assert {t for _, q in TOPICS for t in q.split()} <= words


def test_ids_stay_below_inject_offset(src, tmp_path):
    from hadoop_ir_spark.queries.incremental_q import _INJECT_OFFSET
    assert gen.INJECT_OFFSET == _INJECT_OFFSET
    out = tmp_path / "c"
    gen.make_churn(src, str(out), 3, 200, 2, 40, 5)
    for f in os.listdir(out):
        t = pq.read_table(out / f)
        col = "doc_id" if "doc_id" in t.column_names else "vec_id"
        assert max(t[col].to_pylist()) < gen.INJECT_OFFSET
    big = gen.doc_table(gen.np.array([gen.INJECT_OFFSET]),
                        {"text": gen.np.array(["a"], dtype=object),
                         "lang": gen.np.array(["en"], dtype=object),
                         "source": gen.np.array(["s"], dtype=object)})
    with pytest.raises(ValueError):
        gen.check_ids(big)


def test_record_states_sizes(src, tmp_path):
    out, sizes = _corpus(src, tmp_path, "a", 7, n_vecs=50, copy_tables=True)
    assert sizes["docs"] == 300
    texts = pq.read_table(out / "documents.parquet")["text"].to_pylist()
    assert sizes["text_bytes"] == sum(len(t.encode()) for t in texts)
    assert set(sizes["tables"]) == {"documents", "embeddings", *gen.COPIED}
    assert all(v == os.path.getsize(out / f"{k}.parquet") for k, v in sizes["tables"].items())
    churn = gen.make_churn(src, str(tmp_path / "c"), 3, 200, 2, 40, 5)
    assert churn["base_docs"] == 200 and churn["base_text_bytes"] > 0
    assert [b["docs"] for b in churn["batches"]] == [40, 40, 40]
    assert all(b["text_bytes"] > 0 and b["exact_recrawls"] for b in churn["batches"])
