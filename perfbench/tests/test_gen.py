"""Same seed -> byte-identical inputs; another seed -> different inputs."""

import os

import pytest

import gen


def _write_all(seed, out):
    gen.write_events(seed, out, n_rows=3000, n_customers=500)
    gen.write_documents(seed, out, n_docs=400)
    _, corpus = gen.write_embeddings(seed, out, n=300)
    return {
        name: open(os.path.join(out, name), "rb").read()
        for name in ("events.parquet", "documents.parquet", "embeddings.parquet")
    }, gen.rfm_points(seed, 16), gen.ann_queries(seed, corpus, 8)


def test_same_seed_gives_identical_bytes(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    b = _write_all(7, str(tmp_path / "b"))
    assert a == b


@pytest.mark.parametrize("name", ["events.parquet", "documents.parquet", "embeddings.parquet"])
def test_other_seed_gives_other_inputs(tmp_path, name):
    a = _write_all(7, str(tmp_path / "a"))
    b = _write_all(8, str(tmp_path / "b"))
    assert a[0][name] != b[0][name]
    assert a[1] != b[1] and a[2] != b[2]


def test_events_cover_every_customer_and_hit_the_having_filter():
    t = gen.events_table(3, n_rows=5000, n_customers=800).to_pandas()
    assert t["user_id"].nunique() == 800
    assert (t["value"] < 0).any()
    assert (t["ts"].astype("datetime64[us]").astype("int64") > gen.REF_US).any()
    assert t["event_id"].nunique() < len(t)


def test_documents_plant_near_duplicate_clusters():
    table, truth = gen.documents_table(5, 1000)
    assert table.num_rows == len(truth) == 1000
    planted = truth[truth >= 0]
    assert 0.05 < len(planted) / 1000 < 0.15
    texts = table.column("text").to_pylist()
    members = [i for i in range(1000) if truth[i] == planted[0]]
    assert len(members) >= 2
    a, b = (set(texts[i].split()) for i in members[:2])
    assert len(a & b) / len(a | b) > 0.5
