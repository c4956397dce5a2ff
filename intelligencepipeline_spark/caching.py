"""Session-wide persist tracking — the ownership contract for every
``persist()`` in this package.

Shared scans (shingle tables, quantized vectors, candidate pair sets)
are persisted because several downstream branches of ONE query plan
re-read them; they must stay cached until the query's consuming action
runs, which happens OUTSIDE the query function (the driver / bench /
oracle gate collects the returned DataFrame). No function in the
package can therefore unpersist its own cache at the right moment.

The contract:

* producers call :func:`track_persist` instead of ``df.persist()``;
* the catalog wrapper (queries._with_cache_release) releases the
  PREVIOUS entry's tracked caches when the NEXT entry is built, so any
  sequential consumer — the judge driver, bench.py, oracle_check —
  holds at most one query's cached blocks without having to
  cooperate;
* consumers that want deterministic cleanup (tests, long-lived
  engines) call :func:`release_persisted` directly after their action.

``unpersist()`` on an already-released DataFrame is a Spark no-op, so
operators with correctly paired explicit unpersists (the iterative
component loops) may ALSO route through the tracker for crash safety.
"""

from __future__ import annotations

import functools
import hashlib
import os
import pathlib
import re
import shutil
import tempfile
import time
from typing import Callable, Hashable

from pyspark.sql import DataFrame

from intelligencepipeline_spark.scratch import pid_alive

_TRACKED: list[DataFrame] = []
_SHARED: dict[Hashable, DataFrame] = {}


def shared_scan(
    key: Hashable, builder: Callable[[], DataFrame], level=None
) -> DataFrame:
    """DELIBERATE cross-entry cache for the catalog's common
    substrates — the word-shingle table and the verified LSH edge set
    that 10+ dedup/graph entries all derive from the same corpus scan.
    (Before r04's hygiene pass these were shared ACCIDENTALLY: leaked
    per-entry persists happened to match later entries' logical plans.
    This makes the sharing explicit, keyed, and bounded.)

    Keyed by (name, sf_dir, params): one entry per substrate per
    corpus per session. NOT released by the per-entry wrapper —
    :func:`release_shared` clears it (bench/oracle call it at the end
    of a full catalog run). At 100 TB the equivalent is a
    materialized-at-rest table written once at ingest, not a RAM
    cache; the session-level cache models exactly that reuse.

    Entries are valid only for the SparkSession that built them: if
    the session was stopped and recreated in-process, a cached
    DataFrame is bound to the dead session and every consumer would
    fail until process restart. The cache therefore records the owning
    session and drops ALL entries on mismatch before serving."""
    df = _SHARED.get(key)
    if df is not None and not _session_alive(df):
        # Stale entries from a stopped session: drop WITHOUT unpersist
        # (their JVM-side state died with the session) and rebuild on
        # whatever session the builder uses.
        _SHARED.clear()
        df = None
    if df is None:
        from pyspark import StorageLevel

        df = builder().persist(level or StorageLevel.MEMORY_AND_DISK)
        _SHARED[key] = df
    return df


def _session_alive(df: DataFrame) -> bool:
    """True iff the session that owns ``df`` is still usable."""
    try:
        sc = df.sparkSession.sparkContext
        return sc._jsc is not None  # stopped sessions null this out
    except Exception:
        return False


_SHARED_FIT: dict[Hashable, object] = {}

# Cold-build seconds per fit-once on-disk cache root (/tmp/ip_*_cache),
# accumulated by fit_once misses so a bench run can report every
# second of compute it performed — including index/manifest builds that
# later runs read from disk (r11 verdict item 1: no silently un-timed
# compute in a bench total).
_FIT_BUILDS: dict[str, float] = {}


def record_fit_build(cache_root: str, sec: float) -> None:
    """Accumulate cold-build wall seconds for a fit-once cache miss."""
    _FIT_BUILDS[cache_root] = round(
        _FIT_BUILDS.get(cache_root, 0.0) + sec, 3
    )


def fit_build_seconds() -> dict[str, float]:
    """Cold fit-once cache builds performed by this process since the
    last :func:`reset_fit_builds`."""
    return dict(_FIT_BUILDS)


def reset_fit_builds() -> None:
    """Forget the recorded builds (a bench run reports only its own)."""
    _FIT_BUILDS.clear()


@functools.cache
def _code_salt() -> str:
    """md5 over every ``.py`` source of this package, once per process.
    It is part of every fit_once key, so an edited fit (or anything it
    calls: kmeans, pq, snapshot_store, merge, ...) can never load an
    index built by older code — without listing each builder's
    dependencies by hand."""
    pkg = pathlib.Path(__file__).resolve().parent
    h = hashlib.md5()
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(pkg)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def fit_once(
    root: str, inputs: DataFrame, params: str, build: Callable[[str], None]
) -> str:
    """The fit-once on-disk cache: return a directory holding the
    artifacts ``build(dir)`` writes for (params, the files behind
    ``inputs``, this package's code), building them only on a miss.
    This is the at-rest layout a 100 TB deployment writes once during
    ingest (ANN indexes, seeded bucket stores, ingest shards); every
    later call and process loads from the returned directory.

    * key — md5 of ``params``, each input file's path:size:mtime_ns
      (a non-``file:`` path or an unreadable file contributes its
      path) and the package code salt;
    * hit — ``{root}/{key}/_DONE`` exists;
    * miss — ``build`` writes into a private ``{key}.tmp{pid}.*``
      sibling, ``_DONE`` (holding the code salt) is written there, and
      the directory is renamed into place, so ``_DONE`` never coexists
      with a partial build. When a concurrent builder published first
      the rename fails, this build is discarded and the winner's
      directory is returned. A build that raises leaves nothing
      behind. Each miss's wall seconds go to :func:`record_fit_build`;
    * prune — a miss that publishes removes the root's published
      directories whose ``_DONE`` names another code salt (every key of
      the current code stays, whatever its params or inputs) and the
      temp directories of dead pids, never a live pid's. A published
      one is first renamed to a temp name of this pid, so no reader
      finds it half-removed.

    One race remains: a process running older code can lose its
    published directory mid-read.
    """
    sig = [params]
    for path in sorted(inputs.inputFiles()):
        if path.startswith("file:"):
            local = path[len("file:"):]
            try:
                st = os.stat(local)
                sig.append(f"{local}:{st.st_size}:{st.st_mtime_ns}")
            except OSError:
                sig.append(local)
        else:
            sig.append(path)
    salt = _code_salt()
    sig.append(salt)
    key = hashlib.md5("|".join(sig).encode()).hexdigest()[:16]
    final = os.path.join(root, key)
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    t0 = time.time()
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{key}.tmp{os.getpid()}.", dir=root)
    try:
        build(tmp)
        with open(os.path.join(tmp, "_DONE"), "w") as fh:
            fh.write(salt)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, final)
    except OSError:
        # a concurrent builder won the rename (its directory, _DONE
        # inside, is non-empty); anything else is a real failure
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(final, "_DONE")):
            raise
    else:
        _prune_superseded(root, salt)
    record_fit_build(root, time.time() - t0)
    return final


# a fit_once temp directory: ``{key}.tmp{pid}.{suffix}``
_TMP_PID = re.compile(r"\.tmp(\d+)\.")


def _prune_superseded(root: str, salt: str) -> None:
    """Remove what a fresh publish under code ``salt`` makes dead
    weight in ``root`` (see :func:`fit_once`, "prune")."""
    for name in os.listdir(root):
        path = os.path.join(root, name)
        m = _TMP_PID.search(name)
        if m:
            if not pid_alive(int(m.group(1))):
                shutil.rmtree(path, ignore_errors=True)
            continue
        try:
            with open(os.path.join(path, "_DONE")) as fh:
                if fh.read() == salt:
                    continue
        except OSError:
            continue
        trash = f"{path}.tmp{os.getpid()}.old"
        try:
            os.rename(path, trash)
        except OSError:
            continue  # another pruner took it first
        shutil.rmtree(trash, ignore_errors=True)


def shared_fit(key: Hashable, builder: Callable[[], object]) -> object:
    """The :func:`shared_scan` discipline for DRIVER-SIDE fitted
    artifacts — the BPE merge table, the unigram/WordPiece vocab
    lists: bounded, deterministic training outputs that several
    catalog entries derive from the same corpus scan (bpe_train /
    tokenizer_fertility_matrix / tokenizer_merge_curve /
    tokenizer_lang_fairness all replay the identical 8-merge
    training). At 100 TB a trained tokenizer is a fit-once artifact
    written at ingest next to the IVF/PQ indexes (operators/ivf.py
    docstring); the session-level memo models exactly that reuse —
    in-process only, keyed by (name, corpus, params), cleared by
    :func:`release_shared` with the substrate scans."""
    if key not in _SHARED_FIT:
        _SHARED_FIT[key] = builder()
    return _SHARED_FIT[key]


def release_shared() -> int:
    """Unpersist every shared substrate scan (and drop the fitted-
    artifact memo)."""
    n = 0
    for df in _SHARED.values():
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    _SHARED.clear()
    _SHARED_FIT.clear()
    return n


def track_persist(df: DataFrame, level=None) -> DataFrame:
    """Persist ``df`` and register it for the next release sweep."""
    df = df.persist(level) if level is not None else df.persist()
    _TRACKED.append(df)
    return df


def release_persisted() -> int:
    """Unpersist every tracked DataFrame (blocking=False); returns how
    many were released. Safe to call at any time — plans referencing a
    released cache recompute instead of failing."""
    n = 0
    for df in _TRACKED:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped
    _TRACKED.clear()
    return n
