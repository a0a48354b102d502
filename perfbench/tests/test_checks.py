"""Each check passes the right answer and fails a planted wrong one."""

import dataclasses
import types

import numpy as np
import pytest

import checks
import gen


@pytest.fixture(scope="module")
def seg():
    events = gen.events_table(11, n_rows=4000, n_customers=600).to_pandas()
    truth = checks.SegmentTruth(checks.rfm_reference(events))
    cents = truth.centroids.copy()
    labels = ((truth.scaled[:, None, :] - cents[None]) ** 2).sum(axis=2).argmin(axis=1)
    counts = np.bincount(labels, minlength=4)
    res = types.SimpleNamespace(
        n_customers=truth.n,
        k=4,
        centroids=cents.tolist(),
        inertia=checks.wcss(truth.scaled, cents),
        cluster_sizes=[(j, int(counts[j]), 0.0) for j in range(4)],
        scaler_params={
            **{f"{c}_mean": float(truth.mean[i]) for i, c in enumerate(checks.RFM_COLS)},
            **{f"{c}_std": float(truth.std[i]) for i, c in enumerate(checks.RFM_COLS)},
        },
    )
    return truth, res


def _with(res, **kw):
    return types.SimpleNamespace(**{**vars(res), **kw})


def test_having_filter_drops_customers(seg):
    truth, _ = seg
    assert 0 < truth.n < 600


def test_segment_right_answer_passes(seg):
    truth, res = seg
    assert checks.check_segment(res, truth) == []


def _shifted(r, truth):
    # a valid clustering whose inertia is its true WCSS, but not the seeded fit
    cents = np.asarray(r.centroids) + 1e-3
    return _with(r, centroids=cents.tolist(), inertia=checks.wcss(truth.scaled, cents))


@pytest.mark.parametrize("planted", [
    lambda r, t: _with(r, n_customers=r.n_customers + 1),
    lambda r, t: _with(r, scaler_params={
        **r.scaler_params, "monetary_mean": r.scaler_params["monetary_mean"] * 1.001}),
    lambda r, t: _with(r, cluster_sizes=r.cluster_sizes[:-1]),
    lambda r, t: _with(r, inertia=r.inertia * 1.01),
    lambda r, t: _with(r, centroids=r.centroids[:3]),
    _shifted,
])
def test_segment_planted_wrong_answer_fails(seg, planted):
    truth, res = seg
    assert checks.check_segment(planted(res, truth), truth)


def test_seeded_lloyd_converges_to_a_fixed_point(seg):
    truth, _ = seg
    x, c = truth.scaled, truth.centroids
    labels = ((x[:, None, :] - c[None]) ** 2).sum(axis=2).argmin(axis=1)
    moved = max(np.linalg.norm(x[labels == j].mean(axis=0) - c[j]) for j in range(4))
    assert moved < 1e-4


def test_predict_check():
    model = (np.zeros(3), np.ones(3), np.array([[0.0, 0, 0], [10.0, 10, 10]]))
    assert checks.check_predict(1, model, (9.0, 9.0, 9.0)) == []
    assert checks.check_predict(0, model, (9.0, 9.0, 9.0))


@pytest.fixture(scope="module")
def ann():
    corpus = gen.embeddings_matrix(2, 500, dim=8, n_clusters=10)
    q = gen.ann_queries(2, corpus, 1)[0]
    cos = checks.exact_cosine(corpus, q)
    # the probed cells hold the 200 vectors nearest in cosine plus 50 others
    order = np.argsort(-cos)
    cand = np.sort(np.concatenate([order[:200], order[-50:]]))
    top = checks.top_ids(cos, cand)
    rows = [(int(v), float(np.round(cos[v], 6)), r + 1) for r, v in enumerate(top)]
    return rows, cand, cos


def test_ann_right_answer_passes(ann):
    rows, cand, cos = ann
    assert checks.check_ann(rows, cand, cos) == []


def _reranked(rows):
    return [(v, s, r + 1) for r, (v, s, _) in enumerate(rows)]


def test_ann_planted_wrong_answers_fail(ann):
    rows, cand, cos = ann
    # a lower-scoring candidate in place of the 10th
    worst = int(cand[np.argmin(cos[cand])])
    assert checks.check_ann(_reranked(rows[:9] + [(worst, float(cos[worst]), 0)]), cand, cos)
    # an id the probed cells do not hold
    outside = int(np.setdiff1d(np.arange(len(cos)), cand)[0])
    bad = _reranked(rows[:9] + [(outside, float(cos[outside]), 0)])
    assert checks.check_ann(bad, cand, cos)
    # a score that is not the id's cosine
    off = list(rows)
    off[0] = (off[0][0], off[0][1] + 0.01, 1)
    assert checks.check_ann(off, cand, cos)
    # wrong ranks, too few rows
    assert checks.check_ann([(v, s, 1) for v, s, _ in rows], cand, cos)
    assert checks.check_ann(rows[:9], cand, cos)


def test_index_recall_against_exact_search(ann):
    _, cand, cos = ann
    assert checks.index_recall(cos, np.arange(len(cos))) == 1.0
    assert checks.index_recall(cos, cand) == 1.0  # the 200 nearest are all probed
    far = np.argsort(cos)[:100]
    assert checks.index_recall(cos, far) == 0.0


@dataclasses.dataclass
class _Cur:
    n_input: int
    n_kept: int
    n_rejected: int


def _curation_case():
    # docs 0-9; planted cluster {0,1,2} and {3,4}; doc 5 gated out
    truth = np.array([0, 0, 0, 1, 1, -1, -1, -1, -1, -1])
    kept = np.array([0, 3, 6, 7, 8, 9])
    rejects = {1: "near_duplicate", 2: "near_duplicate", 4: "near_duplicate", 5: "quality"}
    return truth, kept, rejects


def test_curation_right_answer_passes():
    truth, kept, rejects = _curation_case()
    recall, errs = checks.check_curation(_Cur(10, 6, 4), 10, kept, rejects, truth)
    assert recall == 1.0 and errs == []


def test_curation_planted_wrong_answers_fail():
    truth, kept, rejects = _curation_case()
    # kept + rejected != input
    assert checks.check_curation(_Cur(10, 6, 3), 10, kept, rejects, truth)[1]
    # a doc both curated and rejected
    assert checks.check_curation(
        _Cur(10, 7, 4), 10, np.append(kept, 5), rejects, truth)[1]
    # near-duplicates kept instead of rejected: recall 1/3 < floor
    leaky = {5: "quality", 1: "near_duplicate"}
    recall, errs = checks.check_curation(
        _Cur(10, 8, 2), 10, np.array([0, 2, 3, 4, 6, 7, 8, 9]), leaky, truth)
    assert recall == pytest.approx(1 / 3) and errs


def test_near_dup_recall_counts_only_docs_that_reached_dedup():
    truth = np.array([0, 0, 0, -1])
    # doc 2 was gated out: the cluster reached dedup with 2 members -> 1 expected
    assert checks.near_dup_recall(truth, np.array([0, 3]), {1: "near_duplicate", 2: "quality"}) == 1.0
    assert checks.near_dup_recall(truth, np.array([0, 1, 3]), {2: "quality"}) == 0.0
