"""Session memos and persist slots (memo.py) and the table memo's
freshness stamp (sources/tables.py).

* ``memo_put`` same-app evictions do not fire ``on_evict``: a
  localCheckpoint'd frame evicted while an earlier caller still holds
  it must keep its blocks (lineage is truncated, so unpersist would
  make any later action on the held reference fail instead of
  recompute). Cross-app evictions still unpersist.
* ``PersistSlot`` releases the previous call's frames.
* In-place part-file mutation must invalidate the memoized plan.
"""

from __future__ import annotations

import os


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
