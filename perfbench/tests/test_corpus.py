"""The curate_ops corpus: the seed fixes it, and it has the duplicates the
dedup and span queries need."""

import pyarrow.parquet as pq

from perfbench.workloads import write_seeded_corpus


def _texts(path):
    return pq.read_table(f"{path}/documents.parquet").column("text").to_pylist()


def test_seed_fixes_the_corpus(tmp_path):
    write_seeded_corpus(str(tmp_path / "a"), 300, seed=5)
    write_seeded_corpus(str(tmp_path / "b"), 300, seed=5)
    write_seeded_corpus(str(tmp_path / "c"), 300, seed=6)
    assert _texts(tmp_path / "a") == _texts(tmp_path / "b")
    assert _texts(tmp_path / "a") != _texts(tmp_path / "c")


def test_corpus_shape(tmp_path):
    write_seeded_corpus(str(tmp_path), 1000, seed=1)
    docs = pq.read_table(f"{tmp_path}/documents.parquet")
    assert docs.schema.names == ["doc_id", "text", "lang", "source", "n_chars"]
    texts = docs.column("text").to_pylist()
    exact = len(texts) - len(set(texts))
    near = sum("dup" in t.split() for t in texts)
    assert 100 < exact < 200 and 100 < near < 200
    assert pq.read_table(f"{tmp_path}/embeddings.parquet").num_rows == 256
