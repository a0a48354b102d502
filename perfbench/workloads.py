"""The benchmark's workloads. Each pairs one batch operation with the
interactive request type that serves its result. A run is one fresh
session, as a user of the command line gets: the first batch call of
the session, then a single client's closed loop of requests.

``generate`` writes the seeded inputs and computes the ground truth
(untimed, before the session exists); ``setup`` binds the session;
``prepare_requests`` runs after the batch call and builds what the
requests serve from besides the batch output, then warms the request
path (timed as part of setup_s). ``batch``/``request`` are the timed
program calls; ``check_*`` verify their results outside the timing.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

import checks
import gen


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Workload:
    """Defaults for the hooks a workload may leave out."""

    def layer_values(self) -> dict:
        """Per-layer values known outside any single call."""
        return {}

    def report_values(self) -> dict:
        """Report-only ratios the workload prints."""
        return {}

    def after_trace(self, tracer) -> None:
        """Untimed work once the traced operations are done."""


class SegmentDriver(Workload):
    """Customer segmentation in the driver-side fit regime, and predict
    requests served from the model the segmentation run saves."""

    name = "segment_driver"
    #: report names of the batch time, batch throughput and request type
    report_names = ("pipeline_s", "events_per_s", "predict")
    n_rows = 500_000
    n_customers = 20_000
    warm_requests = 5

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.data = os.path.join(work, "data")
        self.model_path = os.path.join(work, "model")
        self.model = None

    def generate(self) -> dict:
        size = gen.write_events(self.seed, self.data, self.n_rows, self.n_customers)
        events = pq.read_table(os.path.join(self.data, "events.parquet")).to_pandas()
        self.truth = checks.SegmentTruth(checks.rfm_reference(events))
        self.points = gen.rfm_points(self.seed, 64)
        return {"input_bytes": size, "items": self.n_rows}

    def setup(self, spark) -> None:
        from clusterforge_spark import pipeline as P
        from clusterforge_spark.operators import features as FE
        from clusterforge_spark.sources import readers as R

        self.spark, self.P, self.FE, self.R = spark, P, FE, R

    def prepare_requests(self, run_op) -> list[str]:
        for _ in range(self.warm_requests):
            run_op("request", warm=True)
        return []

    def batch(self):
        events = self.R.load_table(self.spark, self.data, "events")
        return self.P.run_full_pipeline(
            self.spark, self.FE.compute_rfm(events), n_rows=self.n_rows,
            model_path=self.model_path,
        )

    def check_batch(self, res) -> list[str]:
        errs = checks.check_segment(res, self.truth)
        self.model = checks.read_saved_model(self.model_path)
        if self.model[2].tolist() != res.centroids:
            errs.append("saved centroids differ from the returned ones")
        return errs

    def batch_values(self, res) -> dict:
        """Per-layer values of a checked batch call. The probe collects
        every customer in the driver regime (all of them feed the fit) and
        discards them above ``driver_fit_threshold``."""
        model_bytes = dir_bytes(self.model_path)
        return {
            "pipeline.rfm_scale_s": res.timings["rfm_scale"],
            "pipeline.kmeans_fit_s": res.timings["kmeans_fit"],
            "pipeline.silhouette_s": res.timings["silhouette"],
            "pipeline.probe_useful_frac": 1.0 if res.n_customers <= 250_000 else 0.0,
            "model_store.save_model.bytes": model_bytes,
            "sources.bytes_written": model_bytes,
        }

    def request(self, i: int):
        point = self.points[i % len(self.points)]
        cluster, _ = self.P.run_prediction(self.spark, None, point, model_path=self.model_path)
        return point, cluster

    def check_request(self, i: int, out) -> list[str]:
        point, cluster = out
        return checks.check_predict(cluster, self.model, point)


class Curate(Workload):
    """Corpus curation (gates, banded MinHash dedup, canonical selection,
    parquet writes), and top-10 ANN requests against a k-cell IVF index
    over an embeddings corpus whose index setup builds and persists."""

    name = "curate"
    report_names = ("curate_s", "docs_per_s", "ann")
    n_docs = 3_000
    n_vectors = 3_000
    n_queries = 64
    nprobe = 4
    warm_requests = 6

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.data = os.path.join(work, "data")
        self.out_dir = os.path.join(work, "curated")
        self.registry = os.path.join(work, "registry")
        self.index_build_s = 0.0
        self.candidate_pairs = 0

    def generate(self) -> dict:
        doc_bytes, self.dup_truth = gen.write_documents(self.seed, self.data, self.n_docs)
        emb_bytes, self.corpus = gen.write_embeddings(self.seed, self.data, self.n_vectors)
        self.queries = gen.ann_queries(self.seed, self.corpus, self.n_queries)
        self.cos = [checks.exact_cosine(self.corpus, q) for q in self.queries]
        return {"input_bytes": doc_bytes + emb_bytes, "items": self.n_docs}

    def setup(self, spark) -> None:
        from clusterforge_spark import curation as CU
        from clusterforge_spark import model_store as MS
        from clusterforge_spark.operators import similarity as SIM
        from clusterforge_spark.sources import readers as R

        self.spark, self.CU, self.MS, self.SIM, self.R = spark, CU, MS, SIM, R

    def prepare_requests(self, run_op) -> list[str]:
        """Build and persist the k-cell IVF index the way __spark_entry__
        does (codebook, then inverted lists, each through
        model_store.ensure_artifact), then warm the query path."""
        spark, MS, SIM = self.spark, self.MS, self.SIM
        t0 = time.perf_counter()
        self.emb = self.R.load_table(spark, self.data, "embeddings")
        n_cells = SIM.kcell_n_cells_for(self.n_vectors)
        expect = {"n_rows": self.n_vectors, "n_cells": n_cells,
                  "lloyd_c": SIM.LLOYD_SAMPLE_PER_CELL}
        cells_path = os.path.join(self.registry, "kcell_codebook")
        lists_path = os.path.join(self.registry, "kcell_assigned")
        self.cells = MS.ensure_artifact(
            spark, cells_path, {"kind": "kcell_codebook", **expect},
            lambda: SIM.ivf_kcell_cells(self.emb, n_cells),
        ).cache()
        self.assigned = MS.ensure_artifact(
            spark, lists_path, {"kind": "kcell_assigned", **expect},
            lambda: SIM._assign_packed(self.emb, SIM._pack_cells(self.cells)).select(
                "vec_id", "cell"),
        ).cache()
        self.cells.count()
        self.assigned.count()
        self.index_build_s = time.perf_counter() - t0
        self.candidates = self._candidates(cells_path, lists_path)
        self.recall = float(np.mean(
            [checks.index_recall(cos, c) for cos, c in zip(self.cos, self.candidates)]))
        for _ in range(self.warm_requests):
            run_op("request", warm=True)
        if self.recall < checks.ANN_RECALL_FLOOR:
            return [f"index recall@10 {self.recall:.3f} below floor {checks.ANN_RECALL_FLOOR}"]
        return []

    def _candidates(self, cells_path: str, lists_path: str) -> list:
        """Per query, the vec_ids the index probes, from the stored codebook
        and inverted lists (ivf_kcell_candidates' rule: the nprobe nearest
        cells by L2, ties to the lower cell id)."""
        cells = pq.read_table(os.path.join(cells_path, "data")).to_pylist()
        cell_ids = np.array([r["cell"] for r in cells])
        cents = np.array([r["cent"] for r in cells], dtype=np.float64)
        lists = pq.read_table(os.path.join(lists_path, "data")).to_pydict()
        vec_cell = np.array(lists["cell"])
        vec_ids = np.array(lists["vec_id"])
        out = []
        for q in self.queries:
            d = ((cents - np.asarray(q)) ** 2).sum(axis=1)
            probe = cell_ids[np.lexsort((cell_ids, d))[:self.nprobe]]
            out.append(vec_ids[np.isin(vec_cell, probe)])
        return out

    def batch(self):
        docs = self.R.load_table(self.spark, self.data, "documents")
        return self.CU.run_curation_pipeline(self.spark, docs, self.out_dir)

    def check_batch(self, res) -> list[str]:
        kept, rejects = checks.read_curation_outputs(self.out_dir)
        self.near_dup_recall, errs = checks.check_curation(
            res, self.n_docs, kept, rejects, self.dup_truth)
        return errs

    def batch_values(self, res) -> dict:
        return {
            "curation.gates_s": res.timings["gates"],
            "curation.dedup_s": res.timings["dedup"],
            "curation.write_s": res.timings["write"],
            "sources.bytes_written": dir_bytes(self.out_dir),
            "dedup.near_dup_recall": self.near_dup_recall,
        }

    def layer_values(self) -> dict:
        return {
            "similarity.index_build_s": self.index_build_s,
            "similarity.fanout_frac": float(np.median(
                [len(c) / self.n_vectors for c in self.candidates])),
            "similarity.recall_at_10": self.recall,
            "dedup.candidate_pairs": self.candidate_pairs,
        }

    def report_values(self) -> dict:
        return {"ann_recall_at_10": self.recall}

    def request(self, i: int):
        q = self.queries[i % len(self.queries)]
        df = self.SIM.ivf_kcell_topk(self.emb, q, k=10, nprobe=self.nprobe,
                                     cells=self.cells, assigned=self.assigned)
        with self.tracer.span("similarity.query_exec"):
            rows = df.collect()
        return [(r.vec_id, r.cos_sim, r.rank) for r in rows]

    def check_request(self, i: int, rows) -> list[str]:
        j = i % len(self.queries)
        return checks.check_ann(rows, self.candidates[j], self.cos[j])

    def after_trace(self, tracer) -> None:
        """Count the rows of the traced dedup_minhash_banded result (an
        extra, untimed job once the traced operations are done)."""
        pairs = tracer.last_result.get("dedup.dedup_minhash_banded")
        self.candidate_pairs = pairs.count() if pairs is not None else 0


WORKLOADS = {w.name: w for w in (SegmentDriver, Curate)}
