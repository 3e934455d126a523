"""Validation run orchestration: pending partitions -> one Spark job per
batch -> results + state commits.

Restates the reference's ``clear_dir``/``main`` outer loop
(/root/reference/data_validation.py:1449-1464, richer WIP variant
refactor.py:201-283) as checkpoint-gated incremental batch: the driver only
decides WHICH partitions run; all data work is one declarative plan per
batch so the cluster stays saturated (the reference processed one session
at a time, single-threaded).

Scale shape per batch (SURVEY.md §3.1 Spark restatement):
    scan pending partitions (partition-pruned, column-pruned)
      -> Arrow UDF tok_hash (Arrow batches)
      -> doc_id join vs manifest (+ content probe for misses)
      -> CASE verdict -> violations + per-row rollup
      -> per-partition metrics aggregation
      -> write results (dynamic partition overwrite) -> append state rows
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from np_data_validation_spark.operators import constraints as C
from np_data_validation_spark.operators import verdicts as V
from np_data_validation_spark.plans import checkpoint as CP

def _semantic_version(*sources: bytes) -> str:
    """Content version of validation semantics: sha256 over the AST dump of
    the given module sources with docstrings stripped — comment, formatting
    and doc edits do NOT bump the version (no spurious checkpoint
    invalidation), while any change to executable code (a verdict branch, a
    constraint predicate, a constant) DOES.

    Known sensitivity (accepted, conservative): ``ast.dump`` output is not
    pinned across Python minor versions, so an interpreter upgrade may
    change the version and re-validate prior checkpoints once — a full
    re-run after an upgrade, never a stale checkpoint silently honored
    (ADVICE r5 engine.py:75)."""
    import ast
    import hashlib

    h = hashlib.sha256()
    for src in sources:
        tree = ast.parse(src)
        for node in ast.walk(tree):
            body = getattr(node, "body", None)
            if (
                isinstance(body, list)
                and body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                node.body = body[1:]  # drop the docstring
        h.update(ast.dump(tree).encode())
    return h.hexdigest()[:12]


def _derive_code_version() -> str:
    """Semantic hash over EVERY module that carries validation semantics:
    verdicts + constraints AND the one-pass plan + the streaming wrapper —
    plans.onepass independently reconstructs rollup/uniqueness/schema from
    identity multiplicities, so a semantic change made there must bump the
    version too (VERDICT r5 "what's wrong" #2).

    An explicit ``NPDV_CODE_VERSION`` env override wins over EVERY
    derivation (ADVICE r7 engine.py:118): it is an explicit operator
    decision, and consulting it only deep in the fallback ladder meant a
    normal deploy — where source IS retrievable — silently ignored it.

    Fallback ladder when module source is not retrievable (e.g. a
    .pyc-only deployment, where inspect.getsource raises; ADVICE r5
    engine.py:75, hardened per ADVICE r6 engine.py:95):

    1. hash the modules' COMPILED bytes via each loader's ``get_data``
       (works for filesystem ``__pycache__`` and zipimport archives) —
       coarser than the semantic hash (recompilation or docstring edits
       also bump it), but it still TRACKS the deployed code, so a
       semantic change can never silently honor stale checkpoints;
    2. last resort: a unique per-process tag plus a loud warning — every
       checkpoint re-validates. Failing toward REDUNDANT work is the
       safe direction; the previous static ``pkg-<version>`` tag failed
       the other way (semantic changes no longer bumped the version, so
       stale checkpoints could be silently honored)."""
    import inspect

    override = os.environ.get("NPDV_CODE_VERSION")
    if override:
        return f"env-{override}"

    # imported here, not at module top: streaming.incremental imports
    # plans.onepass, and keeping the engine's import graph lazy avoids any
    # future cycle through the plans package
    from np_data_validation_spark.plans import onepass as OP
    from np_data_validation_spark.streaming import incremental as SI

    try:
        # inspect.getsource goes through each module's loader, so this works
        # both from a filesystem checkout and under spark-submit --py-files
        # with the package shipped as a zip (zipimport has no openable
        # __file__)
        return _semantic_version(
            *(inspect.getsource(mod).encode() for mod in (V, C, OP, SI))
        )
    except (OSError, TypeError, SyntaxError):
        pass
    try:
        # compiled-bytes hash: spec.origin is the importable artifact
        # (.pyc under a pyc-only deploy, the archive member under
        # zipimport) and every loader that got the module imported can
        # get_data it
        import hashlib

        h = hashlib.sha256()
        for mod in (V, C, OP, SI):
            spec = mod.__spec__
            h.update(spec.loader.get_data(spec.origin))
        return "pyc-" + h.hexdigest()[:12]
    except (AttributeError, OSError, ImportError):
        # AttributeError: loader without get_data (or spec/origin None);
        # OSError: artifact unreadable; ImportError: loader refuses.
        # Narrowed from a bare except (ADVICE r7 engine.py:118) so a
        # genuinely misbehaving loader surfaces instead of being masked
        # as 'underivable'.
        pass
    import warnings

    tag = f"underivable-{uuid.uuid4().hex[:12]}"
    warnings.warn(
        "CODE_VERSION could not be derived from module source or compiled "
        "bytes; using a unique per-process tag so NO prior checkpoint is "
        "honored (everything re-validates). Set NPDV_CODE_VERSION to a "
        "deploy-tracking value to restore checkpoint resume.",
        RuntimeWarning,
        stacklevel=2,
    )
    return tag


#: engine/code version recorded in lineage so stale checkpoints re-run.
#: DERIVED from the verdict/constraint/one-pass/streaming module sources
#: (semantic hash, see _semantic_version) — a change to ANY module carrying
#: validation semantics can never silently honor checkpoints written under
#: the old semantics, and there is no manual bump to forget (VERDICT r4
#: "what's wrong" #3; r5 #2 extended the source list to plans.onepass +
#: streaming.incremental).
CODE_VERSION = _derive_code_version()


@dataclass
class RunResult:
    run_id: str
    validated_partitions: list[str]
    skipped_partitions: list[str]
    metrics: dict[str, dict] = field(default_factory=dict)

    @property
    def total_rows(self) -> int:
        return sum(m.get("rows", 0) for m in self.metrics.values())


def _partition_metrics(rolled: DataFrame, violations: DataFrame) -> dict[str, dict]:
    """Per-source metrics (small collect: one row per partition/class)."""
    out: dict[str, dict] = {}
    for r in (
        rolled.groupBy("source")
        .pivot("row_status", ["pass", "fail", "unknown"])
        .count()
        .collect()
    ):
        out.setdefault(r["source"], {})
        m = out[r["source"]]
        m["pass"] = r["pass"] or 0
        m["fail"] = r["fail"] or 0
        m["unknown"] = r["unknown"] or 0
        m["rows"] = m["pass"] + m["fail"] + m["unknown"]
        m["partition_status"] = "pass" if (m["fail"] == 0) else "fail"
    for r in violations.groupBy("source", "violation").count().collect():
        m = out.setdefault(r["source"], {})
        m.setdefault("violations", {})[r["violation"]] = r["count"]
    return out


def manifest_audit(snapshot: DataFrame, manifest: DataFrame) -> DataFrame:
    """Whole-table manifest checks that don't partition by snapshot source:
    consistency (conflicting hashes per doc_id) and orphaned manifest
    entries. Run once per validation run, not per batch."""
    return C.consistency_violations(manifest).unionByName(
        C.orphan_violations(snapshot, manifest)
    )


def _clear_partitions(spark: SparkSession, base: str, partitions: list[str]) -> None:
    """Explicitly drop the output subdirectories of every partition in the
    batch. Dynamic partition overwrite only replaces partitions PRESENT in
    the written DataFrame — a re-validated partition that now yields ZERO
    violation rows would otherwise keep its previous run's stale rows while
    state reports it clean. A crash after the delete and before the state
    commit just re-runs the partition (results-first, state-last ordering).
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for p in partitions:
        path = jvm.org.apache.hadoop.fs.Path(os.path.join(base, f"_part={p}"))
        fs = path.getFileSystem(hconf)
        if fs.exists(path):
            fs.delete(path, True)


def _prune_audit_dirs(spark: SparkSession, work_root: str, keep: int) -> None:
    """Bounded pair-level audit trail: keep the ``keep`` most recent batch
    work dirs (across runs), delete older ones AFTER the state commit —
    mirrors streaming's post-commit scratch reclaim
    (streaming/incremental.py). Legacy flat ``batch=*`` dirs from runs
    before run-scoping count as candidates too.

    Runs entirely through the Hadoop FileSystem API (same as
    _clear_partitions) so ``--keep-audit`` works when ``out_dir`` is an
    object store (s3://, hdfs://), not only the driver's local disk.
    Recency ordering is (dir mtime, parent-run mtime, batch index): batch
    dirs committed within one coarse-mtime tick (NFS and some object-store
    emulations round mtimes) still prune oldest-first, because the batch
    index is monotone within a run and the current run's dir mtime advances
    with every batch it commits. Pruning is post-commit best-effort: a dir
    vanishing mid-prune (two runs sharing an out_dir, external cleanup) is
    skipped, never allowed to abort the remaining batches of the run."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(work_root)
    try:
        fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(root):
            return
        entries = fs.listStatus(root)
    except Exception:  # noqa: BLE001 - root vanished mid-call
        return
    cands: list[tuple[int, int, int, object]] = []
    for st in entries:
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        if name.startswith("run="):
            try:
                subs = fs.listStatus(st.getPath())
            except Exception:  # noqa: BLE001 - run dir deleted concurrently
                continue
            run_mtime = st.getModificationTime()
            for sub in subs:
                if not sub.isDirectory():
                    continue
                bname = sub.getPath().getName()
                try:
                    bidx = int(bname.split("=", 1)[1]) if bname.startswith("batch=") else -1
                except ValueError:
                    bidx = -1
                cands.append(
                    (sub.getModificationTime(), run_mtime, bidx, sub.getPath())
                )
        else:
            mt = st.getModificationTime()
            cands.append((mt, mt, -1, st.getPath()))
    cands.sort(key=lambda t: (t[0], t[1], t[2]), reverse=True)
    for _, _, _, stale in cands[max(keep, 0):]:
        try:
            fs.delete(stale, True)
        except Exception:  # noqa: BLE001 - already gone / transient FS error
            pass
    # sweep run dirs emptied by the prune
    try:
        entries = fs.listStatus(root)
    except Exception:  # noqa: BLE001
        return
    for st in entries:
        if not (st.isDirectory() and st.getPath().getName().startswith("run=")):
            continue
        try:
            if len(fs.listStatus(st.getPath())) == 0:
                fs.delete(st.getPath(), False)
        except Exception:  # noqa: BLE001 - concurrent create/delete: leave it
            pass


def run_validation(
    spark: SparkSession,
    snapshot_path: str,
    manifest_path: str,
    out_dir: str,
    resume: bool = True,
    commit_batch: int | None = None,
    content_aware: bool = False,
    keep_audit: int | None = None,
) -> RunResult:
    """Validate all pending partitions of ``snapshot_path`` and commit
    results + state under ``out_dir``.

    ``commit_batch``: partitions per commit. None = all pending in one job
    (max throughput); smaller batches give finer resume granularity at the
    cost of extra jobs — the reference's per-session loop is the degenerate
    commit_batch=1 case.

    Resume gating: a partition is skipped only if its recorded input
    fingerprint AND code_version both match (see plans.checkpoint). The
    default fingerprint is metadata-cheap (count + n_tok sum + doc_id
    hash-sum) and does NOT see content-only token corruption in an
    already-validated partition; ``content_aware=True`` folds the engine's
    own payload hash into the fingerprint (the reference's re-checksum
    doctrine, /root/reference/data_validation.py:487-496), so silently
    mutated partitions re-validate instead of being skipped. Scan costs are
    minimal by construction: a FIRST run derives the content fingerprint
    from the validation pass's own identity table (ONE payload scan per
    partition total); a RESUME re-hashes only partitions holding a
    plausible 'done' checkpoint (cheap-prefix prefilter) — the unavoidable
    current-content read. Fingerprints of the two modes are incompatible by
    construction (different shapes), so switching modes re-validates
    everything once.

    ``keep_audit``: retain at most this many batch-level pair-table audit
    dirs under ``<out>/_work`` (most recent across runs — mtime with a
    (run, batch-index) tie-break for coarse-mtime filesystems), pruning
    older ones after each state commit through the Hadoop FS API (works on
    object stores). None (default) keeps everything.
    Work dirs are scoped ``_work/run=<run_id>/batch=<n>`` so re-validated
    partitions never leave a stale pair table masquerading as current: the
    latest run's dirs are the authoritative audit trail.
    """
    from np_data_validation_spark.plans.onepass import validate_onepass

    snapshot = spark.read.parquet(snapshot_path)
    manifest = spark.read.parquet(manifest_path)

    # cheap fingerprints for every partition: one light scan, no payload
    fps = CP.input_fingerprints(snapshot)
    all_parts = sorted(fps)
    done: set[str] = set()
    if resume:
        if content_aware:
            # Only partitions with a PLAUSIBLE done checkpoint (matching
            # code_version, content-shaped recorded fingerprint whose cheap
            # prefix matches the current cheap fingerprint) pay the payload
            # re-hash; every other partition re-validates, and its content
            # fingerprint falls out of the validation pass itself.
            lineages = CP.recorded_lineage(spark, out_dir)
            cand = [
                p
                for p, lin in lineages.items()
                if p in fps
                and lin.get("code_version") == CODE_VERSION
                and str(lin.get("input_fingerprint", "")).count(":") == 3
                and str(lin["input_fingerprint"]).rsplit(":", 1)[0] == fps[p]
            ]
            gate_fps = CP.content_fingerprints(snapshot, cand) if cand else {}
            done = CP.done_partitions(
                spark, out_dir, gate_fps, code_version=CODE_VERSION
            )
        else:
            done = CP.done_partitions(spark, out_dir, fps, code_version=CODE_VERSION)
    pending = [p for p in all_parts if p not in done]

    result = RunResult(run_id="", validated_partitions=[], skipped_partitions=sorted(done))
    if not pending:
        return result

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    batches = (
        [pending]
        if commit_batch is None
        else [pending[i : i + commit_batch] for i in range(0, len(pending), commit_batch)]
    )
    run_id = uuid.uuid4().hex
    for bi, batch in enumerate(batches):
        # partition pruning: only pending sources are scanned
        snap_b = snapshot.filter(F.col("source").isin(batch))
        # one-pass plan: payload scanned once into the batch's pair table;
        # rollup, violations and stats derive from it without payload
        # rescans. Work dirs are run+batch scoped (never partition-value
        # named: values would flow unsanitized into paths, and a partition
        # re-validated in a differently-composed later batch would leave a
        # stale table under its old batch dir).
        res = validate_onepass(
            spark, snap_b, manifest,
            os.path.join(out_dir, "_work", f"run={run_id}", f"batch={bi}"),
        )
        rolled, violations = res.rolled, res.violations
        # 1) results first (idempotent per-partition replacement: explicit
        #    clear + dynamic overwrite — overwrite alone leaves stale rows
        #    when a re-run produces zero rows for a partition)
        _clear_partitions(spark, os.path.join(out_dir, "violations"), batch)
        rolled.withColumn("_part", F.col("source")).write.mode("overwrite").partitionBy(
            "_part"
        ).parquet(os.path.join(out_dir, "verdicts"))
        violations.withColumn("_part", F.col("source")).write.mode(
            "overwrite"
        ).partitionBy("_part").parquet(os.path.join(out_dir, "violations"))
        # 2) state rows LAST (the commit point). Content-aware fingerprints
        #    derive from the batch's written identity table — no payload
        #    rescan (plans.checkpoint.fingerprints_from_identities).
        batch_fps = (
            CP.fingerprints_from_identities(res.ids) if content_aware else fps
        )
        metrics = _partition_metrics(rolled, violations)
        state_rows = [
            {
                "partition": p,
                "status": "done",
                "metrics": metrics.get(p, {"rows": 0}),
                "lineage": {
                    "input_fingerprint": batch_fps.get(p, fps[p]),
                    "code_version": CODE_VERSION,
                    "snapshot_path": snapshot_path,
                    "manifest_path": manifest_path,
                },
            }
            for p in batch
        ]
        CP.write_state_rows(spark, out_dir, state_rows, run_id=run_id)
        result.run_id = run_id
        result.validated_partitions.extend(batch)
        result.metrics.update(metrics)
        # 3) bounded audit trail (post-commit, like streaming's reclaim)
        if keep_audit is not None:
            _prune_audit_dirs(spark, os.path.join(out_dir, "_work"), keep_audit)

    # global manifest audit (once per run; overwrites prior audit)
    manifest_audit(snapshot, manifest).write.mode("overwrite").parquet(
        os.path.join(out_dir, "manifest_violations")
    )
    return result
