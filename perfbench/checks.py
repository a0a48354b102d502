"""Independent output checks: numpy/pandas/pyarrow recomputations of what
the program returns. Each ``check_*`` returns a list of failure messages
(empty when the output is correct), so a run counts an operation as failed
when its list is non-empty."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from gen import DAY_US, REF_US

#: rfm column order of the model (operators.features.RFM_COLS)
RFM_COLS = ("recency", "frequency", "monetary")

#: floors the benchmark fixes for its seeded corpora: mean recall@10 of
#: the IVF index over the query set, and planted near-dup recall
ANN_RECALL_FLOOR = 0.8
NEAR_DUP_RECALL_FLOOR = 0.9


def rfm_reference(events: pd.DataFrame) -> pd.DataFrame:
    """Per-customer RFM with the HAVING filter, sorted by user_id: the
    pandas statement of operators.features.compute_rfm (monetary summed
    in exact cents, population sigma later)."""
    ts_us = events["ts"].astype("datetime64[us]").astype(np.int64)
    cents = np.round(events["value"].to_numpy() * 100).astype(np.int64)
    g = pd.DataFrame(
        {"user_id": events["user_id"], "ts": ts_us, "event_id": events["event_id"], "c": cents}
    ).groupby("user_id", sort=True)
    rfm = pd.DataFrame(
        {
            "last_us": g["ts"].max(),
            "frequency": g["event_id"].nunique().astype(np.float64),
            "monetary": g["c"].sum() / 100.0,
        }
    )
    rfm["recency"] = (REF_US - rfm["last_us"]).astype(np.float64) / float(DAY_US)
    keep = (rfm["recency"] >= 0) & (rfm["frequency"] > 0) & (rfm["monetary"] > 0)
    return rfm.loc[keep, list(RFM_COLS)].reset_index()


class SegmentTruth:
    """What a correct segmentation of one events table must report."""

    def __init__(self, rfm: pd.DataFrame, k: int = 4):
        raw = rfm[list(RFM_COLS)].to_numpy(dtype=np.float64)
        self.n = len(raw)
        self.sums = raw.sum(axis=0)
        self.mean = raw.mean(axis=0)
        self.std = np.maximum(raw.std(axis=0), 1e-8)
        self.scaled = (raw - self.mean) / self.std
        self.centroids = seeded_lloyd(self.scaled, k)


def seeded_lloyd(x: np.ndarray, k: int = 4, seed: int = 42, max_iter: int = 300,
                 tol: float = 1e-4) -> np.ndarray:
    """The fit the driver-side regime documents: init at
    ``RandomState(seed).choice(n, k, replace=False)`` rows of the
    key-sorted matrix, Lloyd steps (an empty cluster keeps its centre)
    until no centre moves by ``tol`` or more. Returns the centroids."""
    rng = np.random.RandomState(seed)
    centres = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(max_iter):
        labels = ((x[:, None, :] - centres[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        new = centres.copy()
        for j in range(k):
            members = x[labels == j]
            if len(members):
                new[j] = members.mean(axis=0)
        shift = np.sqrt(((new - centres) ** 2).sum(axis=1)).max()
        centres = new
        if shift < tol:
            break
    return centres


def wcss(x: np.ndarray, centroids: np.ndarray) -> float:
    """Within-cluster sum of squares with nearest-centroid assignment."""
    d2 = ((x[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    return float(d2.min(axis=1).sum())


def _close(a: float, b: float, rel: float) -> bool:
    return abs(a - b) <= rel * max(abs(a), abs(b), 1.0)


def check_segment(res, truth: SegmentTruth) -> list[str]:
    """PipelineResult against the pandas recompute and the reference fit
    (which also pins the result as repeatable: the same seed must give
    the same centroids on every call)."""
    errs = []
    if res.n_customers != truth.n:
        errs.append(f"n_customers {res.n_customers} != {truth.n}")
    params = res.scaler_params or {}
    for i, c in enumerate(RFM_COLS):
        got_sum = params.get(f"{c}_mean", float("nan")) * res.n_customers
        if not _close(got_sum, truth.sums[i], 1e-9):
            errs.append(f"sum({c}) {got_sum!r} != {truth.sums[i]!r}")
        if not _close(params.get(f"{c}_std", float("nan")), truth.std[i], 1e-9):
            errs.append(f"std({c}) differs")
    size_total = sum(s for _, s, _ in res.cluster_sizes)
    if size_total != truth.n:
        errs.append(f"cluster sizes sum to {size_total}, not {truth.n}")
    cents = np.asarray(res.centroids, dtype=np.float64)
    if cents.shape != truth.centroids.shape:
        errs.append(f"centroids of shape {cents.shape}, want {truth.centroids.shape}")
        return errs
    ref = wcss(truth.scaled, cents)
    if not _close(res.inertia, ref, 1e-9):
        errs.append(f"inertia {res.inertia!r} != WCSS {ref!r}")
    if not np.allclose(cents, truth.centroids, rtol=1e-9, atol=1e-9):
        errs.append("centroids differ from the seeded reference fit")
    return errs


def read_saved_model(path: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(mean, std, centroids) of a model_store model, read with pyarrow."""
    scaler = pq.read_table(os.path.join(path, "scaler")).to_pylist()[0]
    cents = sorted(pq.read_table(os.path.join(path, "centroids")).to_pylist(),
                   key=lambda r: r["cluster"])
    mean = np.array([scaler[f"{c}_mean"] for c in RFM_COLS])
    std = np.array([scaler[f"{c}_std"] for c in RFM_COLS])
    return mean, std, np.array([r["center"] for r in cents], dtype=np.float64)


def expected_cluster(model: tuple[np.ndarray, np.ndarray, np.ndarray], point) -> int:
    mean, std, cents = model
    z = (np.asarray(point, dtype=np.float64) - mean) / std
    return int(((cents - z) ** 2).sum(axis=1).argmin())


def check_predict(cluster: int, model, point) -> list[str]:
    want = expected_cluster(model, point)
    return [] if cluster == want else [f"predicted {cluster}, argmin is {want}"]


def exact_cosine(corpus: np.ndarray, query) -> np.ndarray:
    x = corpus.astype(np.float64)
    q = np.asarray(query, dtype=np.float64)
    return (x @ q) / (np.linalg.norm(x, axis=1) * np.linalg.norm(q))


def top_ids(cos: np.ndarray, ids: np.ndarray, k: int = 10) -> np.ndarray:
    """The k of ``ids`` with the highest exact cosine, ties to the lower id."""
    ids = np.asarray(ids)
    return ids[np.lexsort((ids, -cos[ids]))[:k]]


def index_recall(cos: np.ndarray, candidates: np.ndarray, k: int = 10) -> float:
    """recall@k of an index that probes ``candidates`` and ranks them
    exactly, against exact search over the whole corpus."""
    best = top_ids(cos, np.arange(len(cos)), k)
    return len(np.intersect1d(top_ids(cos, candidates, k), best)) / float(k)


def check_ann(rows: list[tuple[int, float, int]], candidates: np.ndarray,
              cos: np.ndarray, k: int = 10) -> list[str]:
    """One query's (vec_id, cos_sim, rank) rows against the candidate set
    its probed cells hold. The rows must be the exact top-k of that set:
    k distinct candidate ids ranked 1..k, each scored with its exact
    cosine, and no candidate left out that scores higher (beyond the
    6-dp rounding of the scores)."""
    errs = []
    ids = [r[0] for r in rows]
    if len(rows) != k or len(set(ids)) != len(ids):
        errs.append(f"{len(rows)} rows / {len(set(ids))} distinct ids, want {k}")
    if [r[2] for r in rows] != list(range(1, len(rows) + 1)):
        errs.append("ranks are not 1..k")
    if any(a[1] < b[1] for a, b in zip(rows, rows[1:])):
        errs.append("scores not in descending rank order")
    cand = set(np.asarray(candidates).tolist())
    for vid, score, _ in rows:
        if vid not in cand:
            errs.append(f"vec {vid} is not in the probed cells")
            break
        if abs(score - cos[vid]) > 1e-5:
            errs.append(f"vec {vid} scored {score}, exact cosine {cos[vid]:.6f}")
            break
    inside = [v for v in ids if v in cand]
    left_out = np.setdiff1d(np.asarray(candidates), np.asarray(ids, dtype=np.int64))
    if inside and len(left_out) and cos[left_out].max() > min(cos[inside]) + 2e-6:
        errs.append("a higher-scoring candidate was left out of the top-k")
    return errs


def near_dup_recall(truth: np.ndarray, kept_ids: np.ndarray, rejects: dict[int, str]) -> float:
    """Planted near-duplicates rejected as such ÷ planted near-duplicates
    that reached dedup. A planted cluster with s members surviving the
    quality gates holds s-1 near-duplicates (one copy is canonical)."""
    reached = np.zeros(len(truth), dtype=bool)
    reached[kept_ids] = True
    nd = np.zeros(len(truth), dtype=bool)
    for d, gate in rejects.items():
        if gate == "near_duplicate":
            reached[d] = True
            nd[d] = True
    planted = truth >= 0
    df = pd.DataFrame({"c": truth[planted], "reached": reached[planted], "nd": nd[planted]})
    per = df.groupby("c").agg(s=("reached", "sum"), hit=("nd", "sum"))
    expected = (per["s"] - 1).clip(lower=0)
    if expected.sum() == 0:
        return 1.0
    return float(np.minimum(per["hit"], expected).sum() / expected.sum())


def check_curation(res, n_input: int, kept_ids: np.ndarray, rejects: dict[int, str],
                   truth: np.ndarray) -> tuple[float, list[str]]:
    """(near-dup recall, failures) for one curation run and its outputs."""
    errs = []
    if res.n_input != n_input:
        errs.append(f"n_input {res.n_input} != {n_input}")
    if res.n_kept + res.n_rejected != n_input:
        errs.append(f"kept {res.n_kept} + rejected {res.n_rejected} != {n_input}")
    if len(kept_ids) != res.n_kept or len(rejects) != res.n_rejected:
        errs.append("written outputs disagree with the reported counts")
    if len(np.unique(kept_ids)) != len(kept_ids):
        errs.append("curated ids repeat")
    overlap = np.intersect1d(kept_ids, np.fromiter(rejects, dtype=np.int64, count=len(rejects)))
    if len(overlap):
        errs.append(f"{len(overlap)} ids both curated and rejected")
    recall = near_dup_recall(truth, kept_ids, rejects)
    if recall < NEAR_DUP_RECALL_FLOOR:
        errs.append(f"near-dup recall {recall:.3f} below floor {NEAR_DUP_RECALL_FLOOR}")
    return recall, errs


def read_curation_outputs(out_dir: str) -> tuple[np.ndarray, dict[int, str]]:
    """(curated doc ids, {rejected doc id: gate}) read with pyarrow. A doc
    rejected twice keeps its first gate but shows up as a count mismatch."""
    kept = pq.read_table(os.path.join(out_dir, "curated"), columns=["doc_id"])
    rej = pq.read_table(os.path.join(out_dir, "rejects"), columns=["doc_id", "gate"])
    rejects: dict[int, str] = {}
    for d, g in zip(rej.column("doc_id").to_pylist(), rej.column("gate").to_pylist()):
        rejects.setdefault(d, g)
    return np.asarray(kept.column("doc_id").to_pylist(), dtype=np.int64), rejects
