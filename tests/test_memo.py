"""Session memos and persist slots (memo.py), the table memo's
freshness stamp (sources/tables.py), and the identities memo and
artifact keys rest on (artifacts.py).

* ``memo_put`` same-app evictions do not fire ``on_evict``: a
  localCheckpoint'd frame evicted while an earlier caller still holds
  it must keep its blocks (lineage is truncated, so unpersist would
  make any later action on the held reference fail instead of
  recompute). Cross-app evictions still unpersist.
* ``PersistSlot`` releases the previous call's frames.
* In-place part-file mutation must invalidate the memoized plan.
* ``stat_fingerprint`` goes through the Hadoop FS API, so a schemed
  corpus (``viewfs://`` mounted over local files: a non-``file:``
  scheme with no network) gets a stable cross-session identity, and
  the grouped listing never lists an authority root.
* A truncated plan render gives ``plan_identity`` None, never a
  per-call token that would persist a new artifact on every call.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


class TestMemoSameAppEviction:
    def test_same_app_eviction_skips_on_evict(self):
        from elb_log_etl_enrichment_spark.memo import memo_put

        evicted = []
        memo: dict = {}
        for i in range(4):
            memo_put(memo, ("appA", i), f"v{i}", cap=3,
                     on_evict=evicted.append)
        # cap overflow evicted the oldest SAME-app entry silently
        assert ("appA", 0) not in memo
        assert evicted == []

    def test_cross_app_eviction_still_fires_on_evict(self):
        from elb_log_etl_enrichment_spark.memo import memo_put

        evicted = []
        memo: dict = {}
        memo_put(memo, ("appOLD", 1), "dead", cap=2, on_evict=evicted.append)
        memo_put(memo, ("appB", 1), "b1", cap=2, on_evict=evicted.append)
        memo_put(memo, ("appB", 2), "b2", cap=2, on_evict=evicted.append)
        assert ("appOLD", 1) not in memo
        assert evicted == ["dead"]

    def test_evicted_checkpoint_frame_still_actionable(self, spark):
        """End to end: hold a checkpointed frame,
        overflow the memo so it gets evicted, then act on the held
        reference — must succeed (blocks not unpersisted)."""
        from elb_log_etl_enrichment_spark.memo import memo_put, unpersist_frame

        app = spark.sparkContext.applicationId
        memo: dict = {}
        held = spark.range(10).localCheckpoint(eager=True)
        memo_put(memo, (app, "first"), held, cap=2,
                 on_evict=unpersist_frame)
        for i in range(3):
            memo_put(memo, (app, f"filler{i}"),
                     spark.range(1).localCheckpoint(eager=True),
                     cap=2, on_evict=unpersist_frame)
        assert (app, "first") not in memo
        # the held reference must still compute (lineage is truncated:
        # an unpersisted checkpoint cannot recompute)
        assert held.count() == 10


def test_persist_slot_releases_previous_calls_frames(spark):
    from elb_log_etl_enrichment_spark.memo import PersistSlot

    slot = PersistSlot()
    a = spark.range(10).persist()
    a.count()
    slot.hold(a)
    assert a.storageLevel.useMemory  # held: still persisted
    slot.release()
    assert not a.storageLevel.useMemory  # released: unpersisted
    # release() on an empty slot and on an already-freed frame is a
    # no-op (hygiene path), never an error
    slot.release()
    b = spark.range(5).persist()
    slot.hold(b)
    b.unpersist()
    slot.release()


def test_table_memo_sees_inplace_directory_mutation(spark, tmp_path):
    """Rewriting a part file IN PLACE (same names) must change the
    stamp, so the memoized plan is refreshed instead of serving a
    stale file listing."""
    from elb_log_etl_enrichment_spark.sources.tables import _path_stamp

    d = tmp_path / "t.parquet"
    d.mkdir()
    f = d / "part-00000.parquet"
    f.write_bytes(b"one")
    s1 = _path_stamp(str(d))
    # same file name, different bytes/mtime — a directory-level
    # (mtime,size) stat may NOT change, the stamp must
    os.utime(str(d), ns=(1, 1))  # freeze dir mtime
    f.write_bytes(b"two")
    os.utime(str(f), ns=(2, 2))
    os.utime(str(d), ns=(1, 1))
    s2 = _path_stamp(str(d))
    assert s1 != s2


def test_plan_identity_stable_across_jvms():
    """The artifact tier's cross-session reuse rests on plan_identity
    being a pure function of the canonicalized plan. JVM semanticHash
    was measured to VARY between identical fresh processes (which is
    why plan_identity hashes the canonicalized pretty-print instead) —
    if a pyspark upgrade ever makes that process-dependent too,
    artifacts silently never hit and every session retrains (the
    persistence win evaporates with no error). Pin it: two fresh
    interpreter+JVM pairs under the SAME session setup must agree.
    (Sessions with different confs may legitimately differ — load_table
    adapts the plan to the conf — so the contract is same-context
    stability, which is what bench→bench and driver→driver reuse
    need.)"""
    import subprocess
    import sys

    prog = (
        "import sys; sys.path.insert(0, '/root/repo');\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[2]')"
        ".config('spark.ui.enabled','false').getOrCreate())\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "from elb_log_etl_enrichment_spark.sources.tables import load_table\n"
        "from elb_log_etl_enrichment_spark.artifacts import plan_identity\n"
        "print('PH=' + str(plan_identity("
        "load_table(spark, '/root/testdata/sf0.001', 'embeddings'))))\n"
    )

    def run_once() -> str:
        child = subprocess.run(
            [sys.executable, "-c", prog],
            capture_output=True,
            text=True,
            timeout=300,
        )
        marks = [l for l in child.stdout.splitlines() if l.startswith("PH=")]
        assert marks, child.stderr[-2000:]
        return marks[0]

    assert run_once() == run_once()


def _mount(spark, name: str, local_dir: str) -> str:
    """Mount ``local_dir`` under viewfs://<name>/data and return the
    schemed URI root."""
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    hc.set(f"fs.viewfs.mounttable.{name}.link./data", "file://" + local_dir)
    return f"viewfs://{name}/data"


class TestHadoopFingerprint:
    def test_schemed_file_fingerprints_and_invalidates(self, spark, tmp_path):
        from elb_log_etl_enrichment_spark.artifacts import stat_fingerprint

        p = tmp_path / "corpus.parquet"
        p.write_bytes(b"x" * 100)
        root = _mount(spark, "r8fpa", str(tmp_path))
        uri = f"{root}/corpus.parquet"

        fp1 = stat_fingerprint([uri], spark=spark)
        assert fp1 is not None
        # stable while the file is untouched
        assert stat_fingerprint([uri], spark=spark) == fp1
        # params still discriminate
        assert stat_fingerprint([uri], extra=("k2",), spark=spark) != fp1
        # rewrite -> new identity (len + modificationTime)
        time.sleep(0.05)
        p.write_bytes(b"y" * 101)
        assert stat_fingerprint([uri], spark=spark) != fp1

    def test_none_without_session_or_on_missing_path(self, spark, tmp_path):
        from elb_log_etl_enrichment_spark.artifacts import stat_fingerprint

        (tmp_path / "t.parquet").write_bytes(b"z")
        root = _mount(spark, "r8fpb", str(tmp_path))
        assert stat_fingerprint([f"{root}/t.parquet"]) is None  # no spark
        assert (
            stat_fingerprint([f"{root}/missing.parquet"], spark=spark) is None
        )
        # unresolvable scheme: miss, never a crash
        assert stat_fingerprint(["nosuchfs://x/y"], spark=spark) is None

    def test_directory_walk_matches_remote_semantics(self, spark, tmp_path):
        from elb_log_etl_enrichment_spark.artifacts import stat_fingerprint

        tbl = tmp_path / "tbl.parquet"
        tbl.mkdir()
        (tbl / "part-0.parquet").write_bytes(b"a" * 10)
        (tbl / "part-1.parquet").write_bytes(b"b" * 20)
        root = _mount(spark, "r8fpc", str(tmp_path))
        fp1 = stat_fingerprint([f"{root}/tbl.parquet"], spark=spark)
        assert fp1 is not None
        (tbl / "part-2.parquet").write_bytes(b"c" * 30)
        assert stat_fingerprint([f"{root}/tbl.parquet"], spark=spark) != fp1

    def test_grouped_listing_mixed_files_and_dirs(self, spark, tmp_path):
        """The batched per-parent listing (r8 review: one listStatus
        per directory, not one getFileStatus per file) must handle a
        mix of plain files and table DIRECTORIES in one call, and a
        missing member must read as no-identity, not a crash."""
        from elb_log_etl_enrichment_spark.artifacts import (
            _hadoop_stat_entries_grouped,
            stat_fingerprint,
        )

        (tmp_path / "a.parquet").write_bytes(b"a" * 11)
        (tmp_path / "b.parquet").write_bytes(b"b" * 22)
        tbl = tmp_path / "tbl.parquet"
        tbl.mkdir()
        (tbl / "part-0.parquet").write_bytes(b"p" * 5)
        (tbl / "part-1.parquet").write_bytes(b"q" * 6)
        root = _mount(spark, "r8fpg", str(tmp_path))
        uris = [
            f"{root}/a.parquet",
            f"{root}/b.parquet",
            f"{root}/tbl.parquet",
        ]
        entries = _hadoop_stat_entries_grouped(spark, uris)
        # 2 plain files + 2 recursed table parts
        assert len(entries) == 4, entries
        fp = stat_fingerprint(uris, spark=spark)
        assert fp is not None
        # same set through the public API is order-insensitive
        assert stat_fingerprint(list(reversed(uris)), spark=spark) == fp
        # a vanished member -> None (retrain), never a crash
        assert (
            stat_fingerprint(uris + [f"{root}/gone.parquet"], spark=spark)
            is None
        )

    def test_index_artifact_path_for_schemed_corpus(self, spark, tmp_path):
        """The ANN artifact tier gets a disk path for a schemed corpus
        (r7: None -> retrain every session)."""
        from elb_log_etl_enrichment_spark.operators.similarity import (
            _index_artifact_path,
        )

        (tmp_path / "emb.parquet").write_bytes(b"e" * 64)
        root = _mount(spark, "r8fpd", str(tmp_path))
        uri = f"{root}/emb.parquet"
        path = _index_artifact_path([uri], ("pq", "ph", 4, 16), spark=spark)
        assert path is not None and path.endswith(".npz")
        # no session -> honest miss, same as r7
        assert _index_artifact_path([uri], ("pq", "ph", 4, 16)) is None
        # identity is stable across calls (what cross-session reuse
        # keys on)
        assert (
            _index_artifact_path([uri], ("pq", "ph", 4, 16), spark=spark)
            == path
        )

    def test_source_fingerprint_for_schemed_sf_dir(self, spark, tmp_path):
        """The bucketed-layout tier fingerprints a schemed sf_dir."""
        import shutil

        from elb_log_etl_enrichment_spark.plans.queries_ext import (
            _source_fingerprint,
        )

        for t in ("orders", "lineitem"):
            shutil.copyfile(
                os.path.join(SF, f"{t}.parquet"),
                tmp_path / f"{t}.parquet",
            )
        root = _mount(spark, "r8fpe", str(tmp_path))
        fp1 = _source_fingerprint(root, spark=spark)
        assert fp1 is not None
        assert _source_fingerprint(root, spark=spark) == fp1
        assert _source_fingerprint(root) is None  # no session
        time.sleep(0.05)
        (tmp_path / "orders.parquet").write_bytes(b"regenerated")
        assert _source_fingerprint(root, spark=spark) != fp1

    def test_local_fast_path_unchanged(self, tmp_path):
        """file:/absolute URIs keep the os.stat entry format — the r7
        artifact keys must survive the r8 extension."""
        from elb_log_etl_enrichment_spark.artifacts import stat_fingerprint

        p = tmp_path / "f.bin"
        p.write_bytes(b"q" * 7)
        st = os.stat(p)
        import hashlib

        h = hashlib.md5()
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
        assert stat_fingerprint([str(p)]) == h.hexdigest()
        assert stat_fingerprint([f"file://{p}"]) == h.hexdigest()


class TestGroupedStatRootGuard:
    def test_two_members_under_root_stat_individually(self, spark, tmp_path):
        """Two members directly under a viewfs root must take the
        per-URI stat path, not listStatus of the root (which on a real
        bucket could enumerate millions of siblings or hit a
        list-permission wall)."""
        from elb_log_etl_enrichment_spark import artifacts

        (tmp_path / "a.bin").write_bytes(b"a" * 10)
        (tmp_path / "b.bin").write_bytes(b"b" * 20)
        hc = spark.sparkContext._jsc.hadoopConfiguration()
        # mount each file as its own root-level link so the members'
        # parent is the authority root itself
        hc.set(
            "fs.viewfs.mounttable.r9root.link./a.bin",
            "file://" + str(tmp_path / "a.bin"),
        )
        hc.set(
            "fs.viewfs.mounttable.r9root.link./b.bin",
            "file://" + str(tmp_path / "b.bin"),
        )
        uris = ["viewfs://r9root/a.bin", "viewfs://r9root/b.bin"]
        entries = artifacts._hadoop_stat_entries_grouped(spark, uris)
        assert len(entries) == 2
        assert any(":10:" in e for e in entries)
        assert any(":20:" in e for e in entries)

    def test_grouping_still_engages_below_root(self, spark, tmp_path):
        from elb_log_etl_enrichment_spark import artifacts

        d = tmp_path / "part"
        d.mkdir()
        (d / "p0").write_bytes(b"x" * 7)
        (d / "p1").write_bytes(b"y" * 9)
        hc = spark.sparkContext._jsc.hadoopConfiguration()
        hc.set(
            "fs.viewfs.mounttable.r9grp.link./data",
            "file://" + str(tmp_path),
        )
        uris = [
            "viewfs://r9grp/data/part/p0",
            "viewfs://r9grp/data/part/p1",
        ]
        entries = artifacts._hadoop_stat_entries_grouped(spark, uris)
        assert len(entries) == 2


class TestPlanIdentityTruncation:
    def test_truncated_render_returns_none(self, spark, monkeypatch):
        """Force a truncated canonicalized render (drop the raised
        conf) and require plan_identity → None, not a unique token."""
        from elb_log_etl_enrichment_spark import artifacts

        df = spark.range(5).select(
            *[F.col("id").alias(f"c{i}") for i in range(40)]
        )
        # narrow plans render fully even at the default cutoff — build
        # the truncation by intercepting the conf raise
        real_set = spark.conf.set

        def no_raise(key, value):
            if key == "spark.sql.debug.maxToStringFields":
                return real_set(key, "5")
            return real_set(key, value)

        monkeypatch.setattr(spark.conf, "set", no_raise)
        try:
            assert artifacts.plan_identity(df) is None
        finally:
            # plan_identity's own restore went through the patched
            # set (re-pinning "5"); clean the session conf so later
            # tests see full plan prints again
            monkeypatch.undo()
            spark.conf.unset("spark.sql.debug.maxToStringFields")

    def test_truncated_plan_never_persists_artifact(self, spark, monkeypatch):
        """End-to-end: with plan identity unavailable the IVF path
        must not compute an artifact path (no per-call .npz)."""
        from elb_log_etl_enrichment_spark.operators import similarity

        monkeypatch.setattr(similarity, "_plan_hash", lambda df: None)
        saved = []
        monkeypatch.setattr(
            similarity,
            "_index_artifact_save",
            lambda path, **arrays: saved.append(path),
        )
        e = spark.read.parquet(f"{SF}/embeddings.parquet")
        out = similarity.cosine_topk_ivf(
            e, F.col("vec_id") % 100 == 0, k=2, n_cells=4, n_probe=2
        )
        assert out.count() >= 0
        assert saved in ([], [None]) or all(p is None for p in saved)


class TestMemoHygiene:
    def test_memo_put_caps_and_prefers_cross_app_eviction(self):
        from elb_log_etl_enrichment_spark.memo import memo_put

        memo: dict = {}
        for i in range(10):
            memo_put(memo, ("appA", i), i, cap=4)
        assert len(memo) == 4
        assert set(memo) == {("appA", i) for i in (6, 7, 8, 9)}
        # cross-app entries evict FIRST on overflow
        memo_put(memo, ("appB", 0), "x", cap=4)
        assert len(memo) == 4
        memo_put(memo, ("appA", 99), 99, cap=4)
        assert ("appB", 0) not in memo
        assert ("appA", 99) in memo

    def test_memo_put_on_evict_and_reinsert_refreshes_age(self):
        from elb_log_etl_enrichment_spark.memo import memo_put

        evicted = []
        memo: dict = {}
        memo_put(memo, ("a", 1), "v1", cap=2, on_evict=evicted.append)
        memo_put(memo, ("a", 2), "v2", cap=2, on_evict=evicted.append)
        memo_put(memo, ("a", 1), "v1b", cap=2, on_evict=evicted.append)
        memo_put(memo, ("a", 3), "v3", cap=2, on_evict=evicted.append)
        # (a,1) was refreshed, so (a,2) is the oldest and evicts
        assert set(memo) == {("a", 1), ("a", 3)}
        # ADVICE r10: same-app evictions are SILENT (a held
        # checkpointed frame must keep its blocks) — on_evict fires
        # only cross-app; see test_memo.TestMemoSameAppEviction
        assert evicted == []

    def test_backfill_dirs_atexit_cleanup(self, tmp_path):
        from elb_log_etl_enrichment_spark.plans import queries_ext as qe

        d = tmp_path / "backfill_fake"
        d.mkdir()
        (d / "part").write_bytes(b"x")
        qe._BACKFILL_DIRS["__test__"] = str(d)
        qe._cleanup_backfill_dirs()
        assert not d.exists()
        assert qe._BACKFILL_DIRS == {}
