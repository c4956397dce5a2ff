"""caching.py ownership contract: every persist in the package routes
through track_persist, and the catalog wrapper + release_persisted
leave no cached RDDs behind after queries are consumed. Also the
fit-once on-disk store (fit_once): key, publish and failure rules."""

import os
import pathlib
import re
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest


def _jids(spark):
    return set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )


def test_catalog_releases_all_tracked_caches(spark):
    """Run cache-heavy catalog entries (shingle scans, kmeans input,
    LSH edges), consume them, release: every cache those entries
    created is gone. Entries chosen to avoid localCheckpoint (whose
    blocks are owned by the ContextCleaner, not this contract)."""
    from intelligencepipeline_spark.caching import (
        release_persisted,
        release_shared,
    )
    from intelligencepipeline_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    release_persisted()
    release_shared()
    before = _jids(spark)
    for name in (
        "jaccard_pairs",
        "embedding_kmeans",
        "minhash_jaccard_estimate_audit",
    ):
        QUERIES[name](spark, sf).write.mode("overwrite").format(
            "noop"
        ).save()
    assert len(_jids(spark) - before) > 0  # the entries did cache
    release_persisted()
    release_shared()
    assert _jids(spark) - before == set()


def test_wrapper_releases_previous_entrys_caches(spark):
    """Building the NEXT catalog entry releases the previous one's
    tracked caches — the no-cooperation path the judge driver uses."""
    from intelligencepipeline_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    from intelligencepipeline_spark.caching import (
        _SHARED,
        release_persisted,
        release_shared,
    )

    release_persisted()
    release_shared()
    before = _jids(spark)
    QUERIES["embedding_kmeans"](spark, sf).write.mode("overwrite").format(
        "noop"
    ).save()
    assert len(_jids(spark) - before) > 0
    # building (not even consuming) the next entry sweeps the TRACKED
    # caches; deliberate shared substrates (shingles/edges) survive
    shared_ids = {df.rdd.id() for df in _SHARED.values()}
    QUERIES["q6_forecast_revenue"](spark, sf)
    assert (_jids(spark) - before) <= shared_ids
    release_persisted()
    release_shared()


def test_no_untracked_persist_in_package():
    """Grep gate: no .persist(/.cache( call site in the package
    outside caching.py itself — everything routes through
    track_persist (paired explicit unpersists remain allowed)."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "intelligencepipeline_spark"
    )
    offenders = []
    for p in pkg.rglob("*.py"):
        if p.name == "caching.py":
            continue
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if re.search(r"\.persist\(|\.cache\(", line):
                offenders.append(f"{p.name}:{i}: {line.strip()}")
    assert offenders == [], offenders


def test_shared_scan_rebuilds_when_owning_session_is_dead(spark):
    """ADVICE r04: _SHARED entries are valid only for the session that
    built them; a dead owner must trigger a clear + rebuild, not a
    dead-session DataFrame handed to the caller."""
    from intelligencepipeline_spark import caching

    calls = []

    def builder():
        calls.append(1)
        return spark.range(3)

    key = ("test_shared_scan_session", "x")
    caching.release_shared()
    df1 = caching.shared_scan(key, builder)
    assert caching.shared_scan(key, builder) is df1
    assert len(calls) == 1

    class _DeadSC:
        _jsc = None

    class _DeadSession:
        sparkContext = _DeadSC()

    class _DeadDF:
        sparkSession = _DeadSession()

    caching._SHARED[key] = _DeadDF()  # simulate stop+recreate
    df2 = caching.shared_scan(key, builder)
    assert len(calls) == 2
    assert df2.count() == 3  # bound to the LIVE session
    caching.release_shared()


def test_g9_substrates_equal_direct_derivation(spark):
    """The r11 G9 substrates must be value-identical to the inline
    derivations they replaced: NB scored frame == a direct
    nb_train_score call; LSH candidate pairs == a direct
    minhash_lsh_candidates call with the default parameters."""
    from pyspark.sql import functions as F

    from intelligencepipeline_spark.caching import (
        release_persisted,
        release_shared,
    )
    from intelligencepipeline_spark.functions.text import (
        gopher_rules,
        tokens,
    )
    from intelligencepipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures_df,
    )
    from intelligencepipeline_spark.operators.quality_clf import (
        nb_train_score,
    )
    from intelligencepipeline_spark.queries import (
        _shared_lsh_candidates,
        _shared_minhash_sigs,
        _shared_nb_scores,
        _t,
    )

    sf = "/root/testdata/sf0.001"
    release_persisted()
    release_shared()
    try:
        docs = _t(spark, sf, "documents")

        direct_nb = nb_train_score(
            docs,
            tokens(F.col("text")),
            gopher_rules(F.col("text"))["keep"],
            F.col("doc_id") % 2 == 0,
        )
        shared_nb = _shared_nb_scores(spark, sf)
        assert sorted(shared_nb.columns) == sorted(direct_nb.columns)
        assert shared_nb.exceptAll(direct_nb).count() == 0
        assert direct_nb.exceptAll(shared_nb).count() == 0

        direct_cands, _big = minhash_lsh_candidates(
            docs, num_hashes=8, bands=4, shingle_k=3
        )
        shared_cands = _shared_lsh_candidates(spark, sf)
        assert shared_cands.exceptAll(direct_cands).count() == 0
        assert direct_cands.exceptAll(shared_cands).count() == 0

        # r12: the shared signature substrate equals a direct
        # default-parameter derivation (exploded string form so the
        # array column compares via exceptAll)
        direct_sigs = minhash_signatures_df(
            docs, num_hashes=8, shingle_k=3
        ).select("doc_id", F.array_join("signature", "|").alias("s"))
        shared_sigs = _shared_minhash_sigs(spark, sf).select(
            "doc_id", F.array_join("signature", "|").alias("s")
        )
        assert shared_sigs.exceptAll(direct_sigs).count() == 0
        assert direct_sigs.exceptAll(shared_sigs).count() == 0
    finally:
        # substrates must not leak into later tests sharing the
        # session fixture even when an assertion above fails
        release_persisted()
        release_shared()


class _Files:
    """Stand-in for a DataFrame: fit_once reads only inputFiles()."""

    def __init__(self, path):
        self.path = path

    def inputFiles(self):
        return [f"file:{self.path}"]


@pytest.fixture
def inputs(tmp_path):
    f = tmp_path / "part-0.parquet"
    f.write_text("rows")
    return _Files(f)


def _writer(tag, calls):
    def build(d):
        calls.append(d)
        with open(os.path.join(d, "artifact"), "w") as fh:
            fh.write(tag)

    return build


def _artifact(d):
    with open(os.path.join(d, "artifact")) as fh:
        return fh.read()


def test_fit_once_failed_build_leaves_nothing(tmp_path, inputs):
    """A build that raises publishes nothing: no key directory, no
    _DONE, no temp directory — the next call builds from scratch."""
    from intelligencepipeline_spark.caching import fit_once

    root = tmp_path / "cache"

    def build(d):
        open(os.path.join(d, "half-written"), "w").close()
        raise RuntimeError("killed mid-build")

    with pytest.raises(RuntimeError):
        fit_once(str(root), inputs, "p", build)
    assert list(root.iterdir()) == []
    calls = []
    d = fit_once(str(root), inputs, "p", _writer("a", calls))
    assert len(calls) == 1 and _artifact(d) == "a"


def test_fit_once_code_salt_change_rebuilds(tmp_path, inputs, monkeypatch):
    """Edited package code (a new salt) never loads an index built by
    the old code."""
    from intelligencepipeline_spark import caching

    root = str(tmp_path / "cache")
    calls = []
    monkeypatch.setattr(caching, "_code_salt", lambda: "code-v1")
    old = caching.fit_once(root, inputs, "p", _writer("v1", calls))
    assert _artifact(old) == "v1"
    monkeypatch.setattr(caching, "_code_salt", lambda: "code-v2")
    new = caching.fit_once(root, inputs, "p", _writer("v2", calls))
    assert len(calls) == 2 and old != new
    assert _artifact(new) == "v2"


def test_fit_once_concurrent_builds_publish_once(tmp_path, inputs):
    """Builders racing on one key (all mid-build before any publishes,
    more of them than cores): exactly one directory is published,
    every caller gets it, and the losers' temp directories are gone."""
    from intelligencepipeline_spark.caching import fit_once

    root = tmp_path / "cache"
    n = 6
    barrier = threading.Barrier(n, timeout=60)

    def build(d):
        barrier.wait()
        with open(os.path.join(d, "artifact"), "w") as fh:
            fh.write(os.path.basename(d))

    with ThreadPoolExecutor(n) as ex:
        futs = [
            ex.submit(fit_once, str(root), inputs, "p", build)
            for _ in range(n)
        ]
        dirs = {f.result(timeout=120) for f in futs}
    assert len(dirs) == 1
    (d,) = dirs
    assert [p.name for p in root.iterdir()] == [os.path.basename(d)]
    assert sorted(os.listdir(d)) == ["_DONE", "artifact"]


def test_fit_once_second_call_is_a_hit(tmp_path, inputs):
    """A second call with the same params and inputs is a hit: no
    build runs and none is recorded. Changing an input file is a
    miss again."""
    from intelligencepipeline_spark import caching

    root = str(tmp_path / "cache")
    calls = []
    caching.reset_fit_builds()
    first = caching.fit_once(root, inputs, "p", _writer("a", calls))
    assert list(caching.fit_build_seconds()) == [root]
    caching.reset_fit_builds()
    assert caching.fit_once(root, inputs, "p", _writer("b", calls)) == first
    assert len(calls) == 1 and caching.fit_build_seconds() == {}
    inputs.path.write_text("more rows")
    changed = caching.fit_once(root, inputs, "p", _writer("c", calls))
    assert changed != first and _artifact(changed) == "c"
    caching.reset_fit_builds()


def test_fit_once_new_salt_prunes_older_code_dir(
    tmp_path, inputs, monkeypatch
):
    """A miss that publishes under a new code salt removes the root's
    directory published by the older code."""
    from intelligencepipeline_spark import caching

    root = str(tmp_path / "cache")
    calls = []
    monkeypatch.setattr(caching, "_code_salt", lambda: "code-v1")
    caching.fit_once(root, inputs, "p", _writer("v1", calls))
    monkeypatch.setattr(caching, "_code_salt", lambda: "code-v2")
    new = caching.fit_once(root, inputs, "p", _writer("v2", calls))
    assert os.listdir(root) == [os.path.basename(new)]
    assert _artifact(new) == "v2"


def test_fit_once_same_salt_keys_survive_each_other(tmp_path, inputs):
    """Keys of one code salt (other params, other inputs) are all live:
    each publish leaves the others in place, so revisiting them in any
    order is a hit."""
    from intelligencepipeline_spark import caching

    root = str(tmp_path / "cache")
    calls = []
    other = tmp_path / "part-1.parquet"
    other.write_text("other rows")
    keys = [("a", inputs), ("b", inputs), ("a", _Files(other))]
    dirs = [
        caching.fit_once(root, df, p, _writer(p, calls)) for p, df in keys
    ]
    assert len(calls) == 3 and len(set(dirs)) == 3
    assert sorted(os.listdir(root)) == sorted(map(os.path.basename, dirs))
    again = [
        caching.fit_once(root, df, p, _writer("x", calls)) for p, df in keys
    ]
    assert again == dirs and len(calls) == 3


def test_fit_once_hit_prunes_nothing(tmp_path, inputs, monkeypatch):
    """A hit leaves every other directory of the root alone."""
    from intelligencepipeline_spark import caching

    root = str(tmp_path / "cache")
    calls = []
    monkeypatch.setattr(caching, "_code_salt", lambda: "code-v2")
    new = caching.fit_once(root, inputs, "p", _writer("v2", calls))
    # an older code's published dir appearing after the miss (another
    # process publishing) must survive the hit below
    stale = os.path.join(root, "0" * 16)
    os.makedirs(stale)
    with open(os.path.join(stale, "_DONE"), "w") as fh:
        fh.write("code-v1")
    dead_tmp = os.path.join(root, f"{'1' * 16}.tmp99999999.x")
    os.makedirs(dead_tmp)
    before = sorted(os.listdir(root))
    assert caching.fit_once(root, inputs, "p", _writer("v3", calls)) == new
    assert len(calls) == 1 and sorted(os.listdir(root)) == before


def test_fit_once_prune_spares_live_pid_temp_dirs(tmp_path, inputs):
    """A publish removes temp directories of dead builders (pid
    99999999 is above any pid_max) but never a live builder's."""
    from intelligencepipeline_spark.caching import fit_once

    root = tmp_path / "cache"
    root.mkdir()
    live = root / f"{'a' * 16}.tmp{os.getpid()}.building"
    dead = root / f"{'b' * 16}.tmp99999999.crashed"
    for d in (live, dead):
        d.mkdir()
        (d / "half-written").write_text("x")
    d = fit_once(str(root), inputs, "p", _writer("a", []))
    assert sorted(p.name for p in root.iterdir()) == sorted(
        [live.name, os.path.basename(d)]
    )
    assert (live / "half-written").read_text() == "x"

