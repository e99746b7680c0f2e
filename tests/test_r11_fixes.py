"""Round-11 optimization pins.

Covers the structural changes of the second optimization round
(the geo-cache commit pins live in test_pipeline.py):
- PersistSlot (the unified release-at-next-call registry replacing 13
  module-local ``_*_PERSISTED`` lists),
- the directory-aware table-memo freshness stamp (ADVICE r10: in-place
  part-file mutation must invalidate the memoized plan).
"""

from __future__ import annotations

import os


# ---------------------------------------------------------------------------
# PersistSlot
# ---------------------------------------------------------------------------
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


# ---------------------------------------------------------------------------
# directory-aware memo stamp (ADVICE r10)
# ---------------------------------------------------------------------------
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
