"""Model persistence: fitted scaler + centroids saved as parquet, with
optional MLlib-native model format alongside.

The reference has NO persistence — predict mode refits from raw data on
every invocation (main.rs:44-52). SURVEY.md §7 (hard spot 8) calls out
model reuse as the primary API improvement: at 100 TB a refit-per-predict
is absurd. What a fitted segmentation actually *is* is tiny — k·d
centroid floats plus 2·d scaler params — so the engine-level format is
plain parquet (portable across engines, readable by anything), and the
serving path is the existing literal-broadcast geometry
(operators/clustering.assign_nearest / predict_point): map-only, no
MLlib dependency at inference time.

Layout under ``<path>/``:
  scaler/      1-row parquet: {col}_mean / {col}_std per feature col
  centroids/   rows (cluster int, center array<double>) in scaled space
  meta/        rows (key string, value string): k, cols, inertia, sizes
  mllib/       (optional) pyspark.ml native KMeansModel.save output —
               written when a fitted MLlib handle is available, so JVM
               pipelines can model.load() it directly.

The path may be any Hadoop-FS URI (local, HDFS, s3a), same as any table.
The KB-sized model and meta dirs are written and read on the driver
(pyarrow) when the dir is local, and through Spark for other URIs, so
saving and serving a local model run no Spark job. A local save is staged
in a sibling dir and swapped in whole, so a reader sees the old model or
the new one, never a mix of both. ``load_model`` returns None when no
model is saved at the path.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time as _time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from clusterforge_spark.sources import readers as _R

_LOG = logging.getLogger("clusterforge_spark.model_store")


@dataclass
class SavedModel:
    """A loaded segmentation model: everything serving needs."""

    k: int
    cols: tuple[str, ...]
    scaler_params: dict  # {col}_mean / {col}_std
    centroids: list[list[float]]  # scaled space, index = cluster id
    cluster_sizes: list[tuple[int, int, float]]  # (cluster, size, pct)
    inertia: float | None


def save_model(
    spark: SparkSession,
    path: str,
    *,
    centroids: list[list[float]],
    scaler_params: dict,
    k: int,
    cols: tuple[str, ...],
    cluster_sizes: list[tuple[int, int, float]] | None = None,
    inertia: float | None = None,
    mllib_model=None,
) -> None:
    """Persist a fitted scaler + centroids (and optionally the MLlib model).

    A local save writes on the driver (no Spark job, except the MLlib
    model's own writer) into a staged dir that replaces the whole model
    dir in one swap, so a re-save never leaves a new scaler beside old
    centroids, nor a stale ``mllib/``. Raises ValueError when ``path``
    exists and holds anything besides a model's subdirs."""
    import pyarrow as pa

    meta = {
        "k": str(int(k)),
        "cols": json.dumps(list(cols)),
        "inertia": "" if inertia is None else repr(float(inertia)),
        "cluster_sizes": json.dumps(
            [[int(c), int(s), float(p)] for c, s, p in (cluster_sizes or [])]
        ),
        "format_version": "1",
    }
    subdirs = ("scaler", "centroids", "meta", "mllib")
    with _staged(spark, path.rstrip("/"), subdirs) as base:
        _write_rows(spark, f"{base}/scaler", pa.table(
            {key: pa.array([float(scaler_params[key])], pa.float64())
             for key in sorted(scaler_params)}
        ))
        _write_rows(spark, f"{base}/centroids", pa.table({
            "cluster": pa.array(range(len(centroids)), pa.int32()),
            "center": pa.array([[float(v) for v in c] for c in centroids],
                               pa.list_(pa.float64())),
        }))
        _write_rows(spark, f"{base}/meta", _kv_table(meta))
        if mllib_model is not None:
            mllib_model.write().overwrite().save(f"{base}/mllib")


def _kv_table(meta: dict[str, str]):
    """``meta`` as the (key string, value string) table of a ``meta/`` dir."""
    import pyarrow as pa

    items = sorted(meta.items())
    return pa.table({
        "key": pa.array([k for k, _ in items], pa.string()),
        "value": pa.array([v for _, v in items], pa.string()),
    })


def _write_rows(spark: SparkSession, path: str, table) -> None:
    """Write the pyarrow ``table`` as the parquet dir ``path`` (overwrite).

    The writer twin of ``_read_rows``: a local dir becomes one
    ``part-00000.parquet`` written on the driver by pyarrow (no Spark
    job); other URIs take one Spark write task. Spark reads both back
    with the same schema."""
    local = _local_base_for_staging(spark, path)
    if local is None:
        spark.createDataFrame(table).coalesce(1).write.mode("overwrite").parquet(path)
        return
    import pyarrow.parquet as pq

    shutil.rmtree(local, ignore_errors=True)
    os.makedirs(local)
    pq.write_table(table, os.path.join(local, "part-00000.parquet"))


def _read_rows(spark: SparkSession, path: str) -> list[dict] | None:
    """Rows of a small parquet dir as dicts, or None if absent/unreadable.

    Local dirs are read on the driver with pyarrow — no Spark job, which
    keeps a cold session's serve path job-free (the first Spark job of a
    fresh process costs seconds in fixed overhead). Other URIs take the
    Spark read, and so does a local dir pyarrow cannot read (e.g. an
    exotic codec): it must not be treated as absent, or the caller would
    rebuild it every session."""
    files = _R._local_parquet_files(path)
    if files is not None:
        try:
            import pyarrow.parquet as pq

            return [row for f in files for row in pq.read_table(f).to_pylist()]
        except Exception:
            pass  # fall through to the Spark read below
    try:
        return [r.asDict() for r in spark.read.parquet(path).collect()]
    except Exception:
        return None


def _read_meta(spark: SparkSession, path: str) -> dict[str, str]:
    """The ``meta/`` (key, value) rows under ``path`` as a dict ({} if absent)."""
    rows = _read_rows(spark, f"{path.rstrip('/')}/meta")
    return {r["key"]: r["value"] for r in rows or ()}


def model_exists(spark: SparkSession, path: str) -> bool:
    """True if ``path`` holds a readable saved model (meta present)."""
    return "format_version" in _read_meta(spark, path)


def load_model(spark: SparkSession, path: str) -> SavedModel | None:
    """The model saved under ``path``, or None when none is saved there
    (``meta/`` missing or without a format_version)."""
    meta = _read_meta(spark, path)
    if "format_version" not in meta:
        return None
    base = path.rstrip("/")
    scaler = _read_rows(spark, f"{base}/scaler")
    cen_rows = _read_rows(spark, f"{base}/centroids")
    if not scaler or cen_rows is None:
        raise FileNotFoundError(f"model {path} has meta/ but no readable scaler/ or centroids/")
    cen_rows.sort(key=lambda r: r["cluster"])
    return SavedModel(
        k=int(meta["k"]),
        cols=tuple(json.loads(meta["cols"])),
        scaler_params=scaler[0],
        centroids=[[float(v) for v in r["center"]] for r in cen_rows],
        cluster_sizes=[
            (int(c), int(s), float(p)) for c, s, p in json.loads(meta["cluster_sizes"])
        ],
        inertia=float(meta["inertia"]) if meta["inertia"] else None,
    )


def load_mllib_model(spark: SparkSession, path: str):
    """Load the MLlib-native model saved alongside (raises if absent)."""
    from pyspark.ml.clustering import KMeansModel

    return KMeansModel.load(f"{path.rstrip('/')}/mllib")


# ---------------------------------------------------------------------------
# Generic derived-artifact store: parquet-persisted engine state that
# is expensive to rebuild but cheap to validate — the trained ANN codebook,
# the dedup components table, the synthesized clustered ANN corpus. As
# per-session state, every one of these had to be RETRAINED before a fresh
# session could serve (measured ~25 s cold for the ANN frontier at sf0.1).
# An artifact is
#
#   <path>/data/   the DataFrame, plain parquet (portable, exact doubles)
#   <path>/meta/   (key string, value string): format_version, kind, and
#                  caller-chosen fingerprint keys (corpus row count, cell
#                  count, ...) validated on load
#
# Loads are VALIDATED: a missing/corrupt artifact or a fingerprint mismatch
# (the corpus changed under the artifact) returns None and the caller
# rebuilds — stale state can never serve. Two layers of validation:
#
#   fingerprint (caller's ``expect``): corpus row count + id sum + every
#     derivation parameter — catches resizes, regenerations and parameter
#     drift with one pruned single-column aggregate per snapshot.
#   self-consistency: the artifact's OWN row count (``self_n_rows``) and
#     an order-independent content checksum (``self_content_crc``) are recorded in
#     meta at save time, computed from the BYTES ACTUALLY WRITTEN. Loads
#     re-count the data from the parquet footers (milliseconds) and
#     reject on mismatch — so a torn/interleaved write (two concurrent
#     overwrites leaving part files of both) can never serve duplicated or
#     partial rows even though its meta fingerprint still matches. The crc
#     is verified by verify_artifact()/registry_report(deep=True) and the
#     rebuild-vs-stored selfcheck, not on the serve path (it is a full
#     scan; the count catches every duplication/truncation shape).
#
# Local saves are STAGED: data+meta land in a sibling ``.__stage__`` dir
# and are renamed into place, so a reader never observes a half-written
# artifact (it sees the old artifact, or nothing — both safe) and two
# concurrent savers converge to one complete copy. Non-local URIs (hdfs/
# s3a) keep the direct write + count-validated load; rename there is
# either non-atomic (s3a) or needs a cluster-specific committer.
#
# A content change that preserves counts, ids and every parameter is
# outside the fingerprint boundary — bump ARTIFACT_VERSION when derivation
# SEMANTICS change without a parameter changing; the rebuild-vs-stored
# identity gate (tests/test_persistence.py + scripts/selfcheck_artifacts.py)
# exists to catch exactly the case where that discipline slips. Saves are
# best-effort: a failed write (read-only FS) logs a WARNING and falls back
# to the in-session build, never fails the query. Non-local writes and
# reads go through Spark (local meta is written and read, and footers are
# read, on the driver), so paths may be any Hadoop-FS URI — on a cluster
# this is the shared model registry location; locally it defaults to
# ``<repo>/spark-warehouse/models`` (env SPARK_GRAFT_MODEL_DIR overrides).
# ---------------------------------------------------------------------------

#: bumped 1 → 2 in r9: meta gained the self-consistency keys (n_rows,
#: content_crc); v1 artifacts fail the version gate and rebuild cleanly.
ARTIFACT_VERSION = "2"


def default_model_dir() -> str:
    """Root of the local artifact registry (env-overridable)."""
    env = os.environ.get("SPARK_GRAFT_MODEL_DIR")
    if env:
        return env
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(repo, "spark-warehouse", "models")


def artifact_path(sf_dir: str, name: str, root: str | None = None) -> str:
    """Registry path for artifact ``name`` of corpus snapshot ``sf_dir``
    (keyed by the snapshot directory's basename — sf0.01 / sf0.1 — the
    same per-snapshot granularity as the in-session memos)."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "default"
    return os.path.join(root or default_model_dir(), tag, name)


def _local_base_for_staging(spark: SparkSession, path: str) -> str | None:
    """The os-level path to stage the save through, or None when the
    path does NOT resolve to the local filesystem (direct write applies).

    Syntax alone is not enough: a schemeless path resolves
    against ``fs.defaultFS``, which on a cluster is typically HDFS/S3 —
    staging there would write the data remotely and then fail the
    os.rename locally, breaking every save. So consult the path's actual
    Hadoop FileSystem and stage only when its scheme is ``file``."""
    if "://" in path and not path.startswith("file:"):
        return None
    try:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(hconf)
        if fs.getScheme() != "file":
            return None
    except Exception:
        # probe failed (JVM unavailable mid-shutdown etc.) — we cannot
        # prove the path is local, so fall back to the direct write
        # (correct on every FS via the count-validated load). Assuming
        # local here would stage onto a remote fs.defaultFS, fail every
        # os.rename, and leak remote .__stage__ dirs the os.listdir-local
        # prune can't see.
        return None
    return _R.strip_file_scheme(path)


#: marker substrings of the staged-save scratch dirs — never valid
#: registry slots; listings skip them and saves prune stale ones
_SCRATCH_MARKERS = (".__stage__.", ".__trash__.")


def _is_registry_slot(name: str) -> bool:
    return not any(m in name for m in _SCRATCH_MARKERS)


def _prune_stale_scratch(local_base: str, max_age_s: int = 3600) -> None:
    """Remove leftover stage/trash dirs for THIS artifact older than
    ``max_age_s`` (a crashed or failed save can orphan one — r9 review).
    Age-gated so a concurrent live save's scratch is never yanked from
    under it; a same-name scratch older than an hour is a corpse.

    The match requires the scratch-marker separator right after the
    artifact name (``<name>.__``), not a bare name prefix — artifact
    'kcore' must never prune a prefix-sibling's scratch ('kcore_v2.
    __stage__.x'), whose live staged save could outlast max_age_s
    (r10 ADVICE fix)."""
    parent = os.path.dirname(local_base) or "."
    prefix = os.path.basename(local_base) + ".__"
    try:
        cutoff = _time.time() - max_age_s
        for entry in os.listdir(parent):
            if entry.startswith(prefix) and not _is_registry_slot(entry):
                p = os.path.join(parent, entry)
                try:
                    if os.path.getmtime(p) < cutoff:
                        shutil.rmtree(p, ignore_errors=True)
                except OSError:
                    pass
    except OSError:
        pass


@contextmanager
def _staged(spark: SparkSession, base: str, subdirs: tuple[str, ...]):
    """Yield the dir a save writes its ``subdirs`` into, then put it in
    place of ``base`` whole.

    A local ``base`` is staged: the caller writes into a sibling
    ``.__stage__.<token>`` dir, which is renamed into place after the old
    dir is renamed away, so a reader sees the complete old dir, the
    complete new one, or (between the two renames) none — never a mix of
    two saves. A failed save removes its stage and leaves the old dir.
    An existing ``base`` holding entries besides ``subdirs`` is refused
    with ValueError, so a mistyped path (``/tmp``) is never swapped away.
    Non-local URIs yield ``base`` itself (direct write): rename there is
    either non-atomic (s3a) or needs a cluster-specific committer."""
    local = _local_base_for_staging(spark, base)
    if local is None:
        yield base
        return
    if os.path.lexists(local):
        foreign = (
            sorted(set(os.listdir(local)) - set(subdirs))
            if os.path.isdir(local) else [os.path.basename(local)]
        )
        if foreign:
            raise ValueError(
                f"refusing to replace {base}: it holds {foreign}, "
                f"not only {list(subdirs)}"
            )
    os.makedirs(os.path.dirname(local) or ".", exist_ok=True)
    _prune_stale_scratch(local)
    token = uuid.uuid4().hex[:12]
    stage = f"{local}.__stage__.{token}"
    trash = f"{local}.__trash__.{token}"
    try:
        yield stage
        # rename is atomic per dir on one filesystem
        if os.path.exists(local):
            os.rename(local, trash)
        try:
            os.rename(stage, local)
        except OSError:
            # restore the old copy rather than leave the slot empty
            if os.path.exists(trash) and not os.path.exists(local):
                os.rename(trash, local)
            raise
    finally:
        # a failed save must not orphan its scratch (disk-full saves would
        # leak one populated dir per attempt); a kill before this point is
        # handled by the age-gated prune of the next save
        shutil.rmtree(trash, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)


def _row_count(spark: SparkSession, data_path: str) -> int:
    """Rows of a parquet dir: the footer count (no Spark job on local
    dirs), else a footer-only Spark count."""
    cnt = _R.footer_row_count(data_path)
    return spark.read.parquet(data_path).count() if cnt is None else cnt


def _content_crc(spark: SparkSession, data_path: str) -> int | None:
    """Order-independent content checksum of a parquet dir: SUM of
    crc32(json(row)) with columns in sorted order. Commutative over rows,
    so repartitioning/reordering never changes it; any value change does.
    None when the schema can't round-trip through to_json."""
    try:
        df = spark.read.parquet(data_path)
        cols = [F.col(c) for c in sorted(df.columns)]
        row = df.agg(
            F.coalesce(F.sum(F.crc32(F.to_json(F.struct(*cols)))), F.lit(0))
            .cast("long")
            .alias("crc")
        ).collect()[0]
        return int(row.crc)
    except Exception:
        return None


def save_artifact(
    spark: SparkSession,
    path: str,
    df,
    meta: dict[str, object],
    n_files: int | None = 1,
) -> None:
    """Persist ``df`` + fingerprint ``meta`` under ``path`` (overwrite).

    Local paths are STAGED (``_staged``): data and meta are written to a
    sibling ``.__stage__.<token>`` dir and renamed into place (old
    artifact renamed away first), so a concurrent reader sees the
    complete old artifact or an absent one — never a mix of two writes'
    part files; a dir holding anything besides ``data/`` and ``meta/``
    is refused (ValueError). Non-local URIs write directly (data before
    meta, so a crash leaves a fingerprint-less artifact that
    load_artifact rejects); the torn-write case there is still caught at
    load time by the n_rows check.

    Self-consistency meta is computed from the WRITTEN files:
    ``self_n_rows`` (verified on every load — a footer-only count) and
    ``self_content_crc`` (verified by verify_artifact / the selfcheck
    gate). The crc is one extra columnar scan of the just-written
    artifact at save time — trivial for model-sized artifacts, and for
    data-proportional ones (inverted lists) still a small constant
    factor on top of the build that produced them (an assignment fold
    costs orders of magnitude more per row than crc32(to_json)).

    ``n_files`` REPARTITIONS the write (default 1 — the registry's
    artifacts are MB-scale models/reports where one file loads fastest);
    pass ``None`` for data-proportional artifacts (a billion-row
    inverted-list table keeps its natural partitioning). repartition,
    NOT coalesce (r11): coalesce(1) collapses the builder's compute
    into the single write task — the 200k-vector assignment fold behind
    kcell_assigned serialized ~90M interpreted distance folds onto one
    core, and the measured 100× ANN cold build barely moved when the
    sampled trainer cut the training pass (853.7 s vs 878 s) because
    the write stage was the real straggler. The repartition exchange
    moves only the FINISHED rows (KB-MB), keeping the fold on all
    cores; the identity gate's comparator is order-insensitive, so the
    shuffle's row order is free."""
    base = path.rstrip("/")
    # reserved self-consistency keys live in their own namespace: caller
    # fingerprints legitimately carry corpus-shape keys like "n_rows"
    # (e.g. the embeddings fingerprint), which must not clobber the
    # artifact's OWN recorded cardinality
    reserved = {"format_version", "self_n_rows", "self_content_crc"}
    clash = reserved & set(meta)
    if clash:
        raise ValueError(f"artifact meta uses reserved keys: {sorted(clash)}")

    with _staged(spark, base, ("data", "meta")) as write_base:
        out = df if n_files is None else df.repartition(int(n_files))
        out.write.mode("overwrite").parquet(f"{write_base}/data")
        all_meta = {
            "format_version": ARTIFACT_VERSION,
            "self_n_rows": str(_row_count(spark, f"{write_base}/data")),
            "self_content_crc": str(_content_crc(spark, f"{write_base}/data")),
        }
        all_meta.update({k: str(v) for k, v in meta.items()})
        _write_rows(spark, f"{write_base}/meta", _kv_table(all_meta))


def artifact_meta(spark: SparkSession, path: str) -> dict[str, str] | None:
    """The artifact's meta dict, or None if absent/unreadable or not of
    the current ARTIFACT_VERSION (read through ``_read_rows``: driver-side
    pyarrow on local registries, Spark elsewhere)."""
    meta = _read_meta(spark, path)
    return meta if meta.get("format_version") == ARTIFACT_VERSION else None


def _artifact_status(
    spark: SparkSession, path: str, meta: dict[str, str], deep: bool
) -> str:
    """Self-consistency verdict of an artifact whose ``meta`` was read:

    ``valid``          row count (and, when ``deep``, content crc) check
    ``no_data``        the data dir is unreadable
    ``count_mismatch`` data cardinality != meta self_n_rows (torn write)
    ``crc_mismatch``   content differs from the bytes recorded at save
    ``crc_unverifiable`` the crc scan itself failed (transient) —
                       retry, don't discard

    The count comes from the parquet footers (driver-side pyarrow on
    local registries, no Spark job), else a footer-only Spark count. It
    is the torn-write guard: an interleaved pair of concurrent overwrites
    that leaves part files of both writes (duplicated rows) or a partial
    file set can pass every fingerprint key, but not its own recorded
    cardinality. ``deep`` adds the full-scan content checksum — the audit
    surface, not the serve path."""
    data_path = f"{path.rstrip('/')}/data"
    try:
        cnt = _row_count(spark, data_path)
    except Exception:
        return "no_data"
    if int(meta.get("self_n_rows", -1)) != cnt:
        return "count_mismatch"
    stored_crc = meta.get("self_content_crc")
    if not deep or stored_crc in (None, "None"):
        return "valid"  # None: saved without a crc (schema outside to_json)
    crc = _content_crc(spark, data_path)
    if crc is None:
        # a failed scan is not evidence of corruption: report it as its
        # own verdict so an operator retries instead of discarding
        return "crc_unverifiable"
    return "valid" if str(crc) == stored_crc else "crc_mismatch"


def load_artifact(
    spark: SparkSession, path: str, expect: dict[str, object] | None = None
):
    """Read a validated artifact: None unless the meta exists, carries the
    current format_version, every ``expect`` key matches (string compare —
    fingerprints are written as str), and the data's row count equals the
    ``self_n_rows`` recorded at save time (``_artifact_status`` without
    the crc)."""
    meta = artifact_meta(spark, path)
    if meta is None:
        return None
    for k, v in (expect or {}).items():
        if meta.get(k) != str(v):
            return None
    status = _artifact_status(spark, path, meta, deep=False)
    if status != "valid":
        _LOG.warning("artifact %s failed its self-consistency check (%s); "
                     "treating as absent", path, status)
        return None
    try:
        return spark.read.parquet(f"{path.rstrip('/')}/data")
    except Exception:
        return None


def verify_artifact(spark: SparkSession, path: str) -> str:
    """Deep self-consistency verdict for one artifact: ``absent`` when it
    has no readable meta (or a wrong format_version), else the
    ``_artifact_status`` verdict including the content crc. The registry
    audit / selfcheck surface, not the hot path."""
    meta = artifact_meta(spark, path)
    if meta is None:
        return "absent"
    return _artifact_status(spark, path, meta, deep=True)


def artifacts_identical(spark: SparkSession, path_a: str, path_b: str) -> bool:
    """True when two artifacts' DATA is row-identical (schema-equal,
    order-insensitive, exact values — parquet round-trips doubles
    bit-exactly, so a rebuild of a deterministic builder must match).
    The rebuild-vs-stored identity gate's comparator."""
    a = spark.read.parquet(f"{path_a.rstrip('/')}/data")
    b = spark.read.parquet(f"{path_b.rstrip('/')}/data")
    if [f.simpleString() for f in a.schema.fields] != [
        f.simpleString() for f in b.schema.fields
    ]:
        return False
    if a.count() != b.count():
        return False
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def registry_report(spark: SparkSession, root: str | None = None, deep: bool = False):
    """One row per artifact in the local registry: snapshot tag, name,
    validity, a STATUS that distinguishes absent from present-but-invalid
    (an operator must be able to see that a slot holds a torn or stale
    artifact, not just that nothing valid loads), and the fingerprint
    meta as a JSON string. ``deep=True`` adds the content-checksum scan
    of each artifact's data; the default stays metadata + footer count.
    Local-FS only; on a cluster, list the registry URI with the catalog
    of your choice."""
    root = root or default_model_dir()
    rows = []
    if os.path.isdir(root):
        for tag in sorted(os.listdir(root)):
            tdir = os.path.join(root, tag)
            if not os.path.isdir(tdir):
                continue
            for name in sorted(os.listdir(tdir)):
                if not _is_registry_slot(name):
                    # staged-save scratch (a live save, or a corpse the
                    # next save will age-prune) — never an artifact
                    continue
                apath = os.path.join(tdir, name)
                meta = artifact_meta(spark, apath)
                if meta is not None:
                    status = _artifact_status(spark, apath, meta, deep)
                elif os.path.isdir(apath) and os.listdir(apath):
                    status = "invalid_meta"
                else:
                    status = "absent"
                rows.append(
                    (
                        tag,
                        name,
                        status == "valid",
                        status,
                        json.dumps(meta, sort_keys=True) if meta else None,
                    )
                )
    return spark.createDataFrame(
        rows,
        schema="snapshot string, artifact string, valid boolean, "
        "status string, meta string",
    )


def ensure_artifact(
    spark: SparkSession,
    path: str,
    expect: dict[str, object],
    builder,
    n_files: int | None = 1,
):
    """Load-or-build: return the validated stored artifact if present,
    else build it, persist it (best-effort) and return the STORED copy —
    so a session that just trained serves exactly the bytes every later
    session will load (parquet round-trips doubles exactly, so the two
    are bit-identical anyway; reading back keeps the lineage short).
    Falls back to the in-session build if persistence fails — LOUDLY
    (r8 verdict item 4): a long-running deployment whose registry went
    unwritable would otherwise silently retrain every session forever."""
    df = load_artifact(spark, path, expect)
    if df is not None:
        return df
    built = builder()
    try:
        save_artifact(spark, path, built, expect, n_files=n_files)
        reloaded = load_artifact(spark, path, expect)
        if reloaded is not None:
            # keep the build's internal-cache lifecycle hooks visible on
            # the frame the caller actually holds (release() contract)
            reloaded._cf_internal_caches = getattr(
                built, "_cf_internal_caches", []
            )
            return reloaded
        _LOG.warning(
            "artifact registry save at %s did not read back valid; "
            "serving the in-session build (will retrain next session)",
            path,
        )
    except Exception as exc:  # noqa: BLE001 — best-effort by contract
        _LOG.warning(
            "artifact registry save failed at %s (%s: %s); serving the "
            "in-session build (will retrain next session)",
            path,
            type(exc).__name__,
            exc,
        )
    return built
