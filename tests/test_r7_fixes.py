"""Round-7 code-review fixes (ADVICE r06, all low).

1. compact_ingest_index swaps via the Hadoop FileSystem API (scheme-
   aware delete+rename, not local-only shutil/os) — behavior pinned by
   the existing test_r6_fixes compaction tests plus the rename-failure
   path here.
2. _cc_local drops edges touching ids absent from `nodes`, matching
   the distributed loop where an unlabeled endpoint joins nothing.
3. elb_device_report's oracle is generated from ua.DEVICE_PARSERS (the
   classifier's live table) and registration falls back to rows-only
   when the wheel / a full uap-core table would desync it.
4. run_available_now's conf-mutation contract is documented (single-
   threaded session); capture/restore remains pinned in test_r6_fixes.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_cc_local_ignores_edges_to_unknown_nodes(spark):
    """An edge-only 'bridge' id (absent from nodes) must not merge two
    components on the union-find path — the distributed min-label loop
    ignores unlabeled endpoints, and both paths must agree (ADVICE
    r06). Node set {1,2,10,11}; edges 1-2, 10-11, and a bridge
    1-99-10 through unknown id 99 (which would also become the min
    label if unioned, the worst case)."""
    from elb_log_etl_enrichment_spark.operators.graph import (
        connected_components,
    )

    nodes = spark.createDataFrame([(1,), (2,), (10,), (11,)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (10, 11), (1, 99), (99, 10)], "src long, dst long"
    )
    local = {
        r.id: r.label
        for r in connected_components(
            nodes, edges, small_graph_threshold=100
        ).collect()
    }
    dist = {
        r.id: r.label
        for r in connected_components(
            nodes, edges, small_graph_threshold=0
        ).collect()
    }
    assert local == dist == {1: 1, 2: 1, 10: 10, 11: 10}


def test_cc_local_known_bridge_still_merges(spark):
    """Control: the same bridge id listed in `nodes` DOES merge the
    components (and its id participates in min-label) on both paths."""
    from elb_log_etl_enrichment_spark.operators.graph import (
        connected_components,
    )

    nodes = spark.createDataFrame(
        [(1,), (2,), (10,), (11,), (0,)], "id long"
    )
    edges = spark.createDataFrame(
        [(1, 2), (10, 11), (1, 0), (0, 10)], "src long, dst long"
    )
    local = {
        r.id: r.label
        for r in connected_components(
            nodes, edges, small_graph_threshold=100
        ).collect()
    }
    dist = {
        r.id: r.label
        for r in connected_components(
            nodes, edges, small_graph_threshold=0
        ).collect()
    }
    assert local == dist == {0: 0, 1: 0, 2: 0, 10: 0, 11: 0}


def test_device_report_oracle_follows_live_table(monkeypatch):
    """_elb_device_report_sql() must return None (rows-only) when the
    classifier would take a path the curated table cannot replay —
    the user_agents wheel or a dropped-in full uap-core table."""
    from elb_log_etl_enrichment_spark.functions import ua
    from elb_log_etl_enrichment_spark.plans import queries_ext as qe

    assert qe._elb_device_report_sql() is not None  # container default

    monkeypatch.setattr(ua, "_FULL_UAP", {"device_parsers": []})
    assert qe._elb_device_report_sql() is None
    monkeypatch.setattr(ua, "_FULL_UAP", None)
    monkeypatch.setattr(ua, "_ua_parse", lambda s: None)
    assert qe._elb_device_report_sql() is None


def test_device_case_sql_reads_ua_module_table(monkeypatch):
    """The CASE generator must read ua.DEVICE_PARSERS (post-rebind),
    not ua_regexes' frozen copy."""
    from elb_log_etl_enrichment_spark.functions import ua
    from elb_log_etl_enrichment_spark.plans import queries_ext as qe

    monkeypatch.setattr(
        ua,
        "DEVICE_PARSERS",
        [{"regex": "SentinelBot", "device_replacement": "Sentinel"}],
    )
    case = qe._device_case_sql("ua")
    assert "SentinelBot" in case and "'Sentinel'" in case


def test_compact_ingest_index_swaps_via_fs_api(spark, tmp_path):
    """Happy path end-to-end through the Hadoop FS API: compaction
    preserves rows + batch_id and leaves no .compact remnant."""
    import os

    from elb_log_etl_enrichment_spark.streaming.stream import (
        compact_ingest_index,
    )

    idx = str(tmp_path / "index.parquet")
    spark.range(10).select(
        F.col("id"), F.lit(0).alias("batch_id")
    ).repartition(4).write.parquet(idx)
    n = compact_ingest_index(spark, idx, target_files=1)
    assert n == 10
    assert not os.path.exists(idx + ".compact")
    assert spark.read.parquet(idx).count() == 10
    assert "batch_id" in spark.read.parquet(idx).columns


def test_fs_swap_rename_failure_is_loud(spark, tmp_path):
    """The swap seam must RAISE when the Hadoop rename reports
    failure (a false return, e.g. staging vanished), never return
    as if the index were compacted — the silent-strand mode the r7
    FS-API rewrite exists to prevent."""
    import pytest

    from py4j.protocol import Py4JJavaError

    from elb_log_etl_enrichment_spark.streaming.stream import _fs_swap

    staging = tmp_path / "index.parquet.compact"
    staging.mkdir()
    (staging / "part-0.parquet").write_bytes(b"x")
    # an un-renameable destination (parent is a regular FILE): the
    # local FS surfaces this as a raised ParentNotDirectoryException;
    # object stores whose rename returns false instead hit _fs_swap's
    # explicit IOError. Either way the contract is LOUD failure with
    # the staged copy left intact.
    parent_file = tmp_path / "not_a_dir"
    parent_file.write_bytes(b"x")
    dest = parent_file / "index.parquet"
    with pytest.raises((IOError, Py4JJavaError), match="rename|Parent"):
        _fs_swap(spark, str(staging), str(dest))
    assert staging.exists()  # staged copy left in place, as documented


def test_elb_stream_single_paced_run_batches_per_file(spark, tmp_path):
    """r7 (verdict r06 item 6): one availableNow run with
    maxFilesPerTrigger=1 over two mtime-ordered gzip objects must
    process each file in its own micro-batch (two ingest_batch
    partition dirs, per-file row counts), composing to the same
    cleaned-logs content as the former two-run shape."""
    import glob
    import gzip
    import os
    import time

    from elb_log_etl_enrichment_spark.sources.alb_fixtures import (
        fixture_lines,
    )
    from elb_log_etl_enrichment_spark.streaming.elb_stream import (
        stream_elb_pipeline,
    )

    logs = tmp_path / "logs"
    logs.mkdir()
    out = str(tmp_path / "out")
    lines = fixture_lines()

    def land(name, chunk, mtime=None):
        p = str(logs / name)
        with gzip.open(p, "wt") as f:
            f.write("\n".join(chunk) + "\n")
        if mtime is not None:
            os.utime(p, (mtime, mtime))

    now = time.time()
    land("a.log.gz", lines, mtime=now - 60)  # 22 cleaned rows
    land("b.log.gz", lines[:5])  # 5 more browser lines
    stream_elb_pipeline(
        spark, str(logs / "*.gz"), out, max_files_per_trigger=1
    )
    root = os.path.join(out, "cleaned_logs")
    batches = sorted(
        os.path.basename(d)
        for d in glob.glob(os.path.join(root, "ingest_batch=*"))
    )
    assert batches == ["ingest_batch=0", "ingest_batch=1"], batches
    cleaned = spark.read.parquet(root)
    per_batch = {
        r["ingest_batch"]: r["n"]
        for r in cleaned.groupBy("ingest_batch")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_batch == {0: 22, 1: 5}, per_batch


def test_steady_staleness_rule():
    """bench.py's steady-stamp staleness rule (r7): an entry measured
    at HEAD is fresh ONLY while the working tree carries no engine
    edits (the diff runs against the worktree, not commit..HEAD —
    uncommitted code is still code the stamp can't vouch for,
    code-review r7); an entry with a bogus or missing commit, or for
    an unknown query, is always stale."""
    import subprocess

    from elb_log_etl_enrichment_spark.plans.queries import all_queries

    all_queries()
    import bench

    head = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        cwd=bench.REPO_ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip()
    dirty = bool(
        subprocess.run(
            ["git", "diff", "--name-only", "HEAD", "--",
             "elb_log_etl_enrichment_spark"],
            cwd=bench.REPO_ROOT, capture_output=True, text=True, check=True,
        ).stdout.strip()
    )
    book = {
        "pricing_summary": {"commit": head, "steady": 1.0},
        "no_such_query": {"commit": head, "steady": 1.0},
        "revenue_by_nation": {"steady": 1.0},  # no commit recorded
        "sessionize_events": {"commit": "0000000", "steady": 1.0},
    }
    stale = set(bench._stale_steady_entries(book))
    assert ("pricing_summary" in stale) == dirty
    assert {"no_such_query", "revenue_by_nation", "sessionize_events"} <= stale


def test_bucketed_layout_persists_and_invalidates(spark, tmp_path):
    """r7: the co-bucketed join layout is a persisted artifact —
    reused across sessions while the source fingerprint matches
    (DDL-only re-register, no rewrite), rewritten the moment a source
    file changes (a stale layout would serve wrong rows)."""
    import os
    import shutil
    import time as _time

    from elb_log_etl_enrichment_spark.plans import queries_ext as qe

    src = tmp_path / "sf"
    src.mkdir()
    for t in ("orders", "lineitem"):
        shutil.copytree(
            f"/root/testdata/sf0.001/{t}.parquet", src / f"{t}.parquet"
        ) if os.path.isdir(f"/root/testdata/sf0.001/{t}.parquet") else shutil.copy(
            f"/root/testdata/sf0.001/{t}.parquet", src / f"{t}.parquet"
        )
    sf_dir = str(src)

    def bucket_file_mtimes():
        import hashlib

        sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        base = os.path.join("/tmp", f"spark_graft_bucketed_{sfx}")
        out = {}
        for root, _, files in os.walk(base):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.stat(p).st_mtime_ns
        return base, out

    def reset_session_state():
        qe._BUCKET_DIRS.pop(sf_dir, None)
        for t in spark.catalog.listTables():
            if t.name.startswith("bj_"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")

    t_o, t_l = qe._bucketed_tables(spark, sf_dir)
    n1 = spark.table(t_l).count()
    base, m1 = bucket_file_mtimes()
    assert n1 > 0 and m1

    # fresh "session": same sources -> DDL-only reuse, files untouched
    reset_session_state()
    qe._bucketed_tables(spark, sf_dir)
    _, m2 = bucket_file_mtimes()
    assert m2 == m1, "reuse path rewrote the bucketed files"
    assert spark.table(t_l).count() == n1

    # a source file changes -> fingerprint mismatch -> full rewrite
    reset_session_state()
    victim = src / "lineitem.parquet"
    if victim.is_dir():
        part = next(p for p in victim.iterdir() if p.suffix == ".parquet")
    else:
        part = victim
    _time.sleep(0.01)
    os.utime(part)  # mtime bump = regenerated testdata
    qe._bucketed_tables(spark, sf_dir)
    _, m3 = bucket_file_mtimes()
    assert m3 != m1, "changed source did not invalidate the layout"
    assert spark.table(t_l).count() == n1


def test_ann_index_artifacts_persist_across_sessions(spark, monkeypatch):
    """r7: trained ANN artifacts (IVF centroids, PQ/IVFPQ codebooks)
    persist to disk keyed by source fingerprint + params. After a
    memo clear (= a new session), the loaders must serve the SAME
    model without retraining — pinned by poisoning the trainers and
    asserting identical results."""
    from elb_log_etl_enrichment_spark.operators import similarity as sim
    from elb_log_etl_enrichment_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    pred = F.col("vec_id") % 50 == 0

    def run_all():
        return {
            "pq": sorted(map(tuple, sim.cosine_topk_pq(emb, pred, k=3).collect())),
            "ivf": sorted(map(tuple, sim.cosine_topk_ivf(emb, pred, k=3).collect())),
            "ivfpq": sorted(
                map(tuple, sim.cosine_topk_ivfpq(emb, pred, k=3).collect())
            ),
        }

    first = run_all()  # trains (or loads a prior artifact) + saves

    sim._PQ_CODEBOOK_MEMO.clear()
    sim._IVF_CENTROID_MEMO.clear()
    sim._IVFPQ_MEMO.clear()

    def _poisoned(*a, **k):
        raise AssertionError("trainer ran — disk artifact not served")

    monkeypatch.setattr(sim, "_train_pq", _poisoned)
    monkeypatch.setattr(sim, "_lloyd", _poisoned)
    second = run_all()  # must come entirely from the disk tier
    assert second == first


def test_ann_artifact_keys_distinguish_transformed_frames(spark, monkeypatch):
    """code-review r7: the artifact/memo key must include the frame's
    semantic plan identity — a FILTERED frame over the same files must
    never be served the full-corpus model (or vice versa). Pin by
    asserting the artifact paths differ, and — the behavioral half
    (code-review r7b: a neighbor-parity check was vacuous, IVF can
    only ever return input rows) — that after the FULL corpus trains
    and persists, the filtered frame still has to TRAIN: poisoned
    trainers must fire, proving the full-corpus artifact was not
    served through a colliding key."""
    import pytest
    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.operators import similarity as sim
    from elb_log_etl_enrichment_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    half = emb.filter(F.col("vec_id") % 2 == 0)

    full_key = sim._index_artifact_path(
        emb.inputFiles(), ("ivf", sim._plan_hash(emb), 16, 16384, 10)
    )
    half_key = sim._index_artifact_path(
        half.inputFiles(), ("ivf", sim._plan_hash(half), 16, 16384, 10)
    )
    assert full_key and half_key and full_key != half_key

    pred = F.col("vec_id") % 100 == 0
    sim.cosine_topk_ivf(emb, pred, k=3).collect()  # trains/persists full

    def _poisoned(*a, **k):
        raise AssertionError("TRAINER_RAN")

    # a prior pytest run may have legitimately persisted the HALF
    # artifact (keys are stable across runs by design) — clear both
    # the session memo and the disk tier so the poisoned call can
    # only be satisfied by a KEY COLLISION with the full artifact
    import os

    sim._IVF_CENTROID_MEMO.clear()
    if os.path.exists(half_key):
        os.unlink(half_key)
    monkeypatch.setattr(sim, "_lloyd", _poisoned)
    with pytest.raises(AssertionError, match="TRAINER_RAN"):
        # a colliding key would serve the full-corpus centroids and
        # never reach the trainer — this raise IS the isolation proof
        sim.cosine_topk_ivf(half, pred, k=3).collect()
    monkeypatch.undo()
    got = sim.cosine_topk_ivf(half, pred, k=3).collect()
    assert got, "filtered corpus produced no neighbors"


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


def test_sized_shuffle_partitions_rejects_nesting(spark):
    """The single-threaded-session contract on the per-stream shuffle
    sizing is enforced (ADVICE r06 #4): a second sized block on the
    same session — a concurrent stream compiling inside another's conf
    window — raises instead of silently miscompiling; the conf is
    restored either way, and n=None blocks don't participate."""
    import pytest

    from elb_log_etl_enrichment_spark.streaming.stream import (
        sized_shuffle_partitions,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with sized_shuffle_partitions(spark, 4):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
        with pytest.raises(RuntimeError, match="not re-entrant"):
            with sized_shuffle_partitions(spark, 8):
                pass
        # unaffected by the rejected attempt
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
        with sized_shuffle_partitions(spark, None):  # no-op path nests fine
            pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    with sized_shuffle_partitions(spark, 4):  # reusable after clean exit
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_exact_topk_memo_is_corpus_scoped(spark):
    """The ground-truth memo behind the ANN recall audits must key on
    FILE identity as well as plan identity — the canonicalized plan
    string normalizes the scan relation, so two same-schema corpora
    at different paths print identically (caught live at r7: sf0.001's
    exact pairs were served for sf0.01 and every recall flag went 0)."""
    from elb_log_etl_enrichment_spark.plans import queries_ext as qx
    from elb_log_etl_enrichment_spark.sources.tables import load_table

    pred = F.col("vec_id") % 100 == 0
    a = qx._exact_topk_pairs(
        spark, load_table(spark, "/root/testdata/sf0.001", "embeddings"), pred, 3
    )
    b = qx._exact_topk_pairs(
        spark, load_table(spark, "/root/testdata/sf0.01", "embeddings"), pred, 3
    )
    assert a and b and sorted(a) != sorted(b)
    # and the memo actually serves the second call for the same corpus
    a2 = qx._exact_topk_pairs(
        spark, load_table(spark, "/root/testdata/sf0.001", "embeddings"), pred, 3
    )
    assert a2 is a  # memo hit, not a recompute
