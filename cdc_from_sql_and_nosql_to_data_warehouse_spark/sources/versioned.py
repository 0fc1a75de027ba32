"""Versioned parquet tables: atomic pointer commits, time travel,
vacuum — the plain-filesystem core of a lakehouse table format
(Delta/Iceberg publish exactly this way: immutable data files + an
atomically swapped pointer; public design).

Why it exists here: the reference's S3→COPY path publishes by MOVING
files between prefixes (load_s3_files…handler.py:29-42 — a copy+delete
"state machine" that is neither atomic nor versioned), and the
incremental merge stream (streaming/cdc.py) needs each tick's delta to
become visible all at once, together with the files it carries
forward.  A versioned table gives both with no crash window:

- every commit writes a NEW immutable version directory ``_v{n}``
  (staged under a temp name, then one rename);
- readers resolve ``_VERSION`` — a one-line pointer file replaced via
  ``os.replace`` (atomic on POSIX).  A crash anywhere before the
  pointer flip leaves the table at version n−1 with a stray temp/
  orphan dir that the next commit cleans; readers NEVER observe a
  partial version;
- old versions stay readable (``read_table(version=k)`` — time travel
  / reproducible training-data snapshots) until ``vacuum`` retires
  them.

At 100 TB the mechanism is identical (rename→metadata op on HDFS;
on S3 the pointer flip becomes a conditional PUT — same protocol, one
primitive swapped).  An incremental publisher stages a version as its
new files plus hard links (``link_tree``) to every file of the current
version, so the files in a version directory are its manifest: the
merge stream adds one delta directory per tick and, when the deltas
outgrow the base, publishes a compaction as a version of its own.
This is the plain-parquet equivalent of a table format's commit log,
not a replacement for Delta/Iceberg.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

_POINTER = "_VERSION"
_COMMITS = "_COMMITS"
_TMP_PREFIX = "_staging_"


def _pointer_path(table_dir: str) -> str:
    return os.path.join(table_dir, _POINTER)


def _journal_path(table_dir: str) -> str:
    return os.path.join(table_dir, _COMMITS)


def _journal_high(table_dir: str) -> int | None:
    """Highest version recorded in the append-only commit journal that
    still has its version dir on disk; None if no usable entry."""
    try:
        with open(_journal_path(table_dir)) as fh:
            lines = fh.read().split()
    except OSError:
        return None
    on_disk = set(list_versions(table_dir))
    best = None
    for tok in lines:
        if tok.isdigit() and int(tok) in on_disk:
            best = max(best or 0, int(tok))
    return best


def current_version(table_dir: str) -> int:
    """Version the pointer names; 0 if the table has never committed.

    A corrupt/truncated pointer (possible only if the filesystem loses
    the pointer's data after persisting the rename — the fsync in
    commit_version closes that window on POSIX) recovers from the
    append-only ``_COMMITS`` journal, which records every version that
    was PROVABLY published (appended right after the pointer flip).
    The previous fallback — highest ``_v{n}`` dir on disk — could
    expose an unpublished orphan (crash between the version rename and
    the pointer flip, or a WAP-audit reject mid-flight); the journal
    cannot, because entries are written only post-flip.  With no
    journal entry either, the table FAILS LOUDLY: guessing high risks
    serving never-committed data, guessing low lets the next commit's
    orphan-clean delete published data — both are worse than a human
    look at two small files."""
    try:
        with open(_pointer_path(table_dir)) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return 0
    except ValueError:
        recovered = _journal_high(table_dir)
        if recovered is not None:
            return recovered
        raise RuntimeError(
            f"corrupt version pointer for {table_dir} and no usable "
            f"_COMMITS journal — refusing to guess; inspect "
            f"{_pointer_path(table_dir)} (on-disk versions: "
            f"{list_versions(table_dir)})"
        ) from None


def list_versions(table_dir: str) -> list[int]:
    """All version directories present on disk (vacuumed ones absent)."""
    if not os.path.isdir(table_dir):
        return []
    out = []
    for entry in os.listdir(table_dir):
        if entry.startswith("_v") and entry[2:].isdigit():
            out.append(int(entry[2:]))
    return sorted(out)


def _clean_orphans(table_dir: str, committed: int) -> None:
    """Remove staging leftovers and any version dir ABOVE the pointer
    (a crash after the version rename but before the pointer flip
    leaves a complete-but-unpublished dir; it must not block the next
    commit from reusing the number)."""
    for entry in os.listdir(table_dir):
        path = os.path.join(table_dir, entry)
        if entry.startswith(_TMP_PREFIX):
            shutil.rmtree(path, ignore_errors=True)
        elif entry.startswith("_v") and entry[2:].isdigit() and int(entry[2:]) > committed:
            shutil.rmtree(path, ignore_errors=True)


def commit_version(df: DataFrame, table_dir: str, audit=None) -> int:
    """Publish ``df`` as the table's next version atomically.

    Protocol (every step crash-safe):
      1. clean orphans from earlier failed commits;
      2. write parquet to ``_staging_{n}`` (Spark job — the only
         data-proportional step);
      3. ``os.rename`` staging → ``_v{n}`` (atomic dir rename);
      3b. if ``audit`` is given, run it on the STAGED version
          (``audit(staged_df) -> bool``); a False/raising audit aborts
          the publish — the WRITE-AUDIT-PUBLISH pattern (public:
          Iceberg WAP): bad data is fully written, fully validated,
          and never becomes visible;
      4. write ``_VERSION.tmp`` then ``os.replace`` onto ``_VERSION``
         (atomic pointer flip — THE commit point).
    A crash (or failed audit) before step 4 leaves readers at n−1;
    rerunning the commit converges.  Pair ``audit`` with the one-scan
    rule suite (operators/quality.q_dq_expectations) for declarative
    gates."""
    os.makedirs(table_dir, exist_ok=True)
    committed = current_version(table_dir)
    _clean_orphans(table_dir, committed)
    n = committed + 1
    staging = os.path.join(table_dir, f"{_TMP_PREFIX}{n}")
    df.write.mode("overwrite").parquet(staging)
    final = os.path.join(table_dir, f"_v{n}")
    os.rename(staging, final)
    if audit is not None:
        spark = df.sparkSession
        try:
            ok = audit(spark.read.parquet(final))
        except Exception:
            shutil.rmtree(final, ignore_errors=True)
            raise
        if not ok:
            shutil.rmtree(final, ignore_errors=True)
            raise ValueError(
                f"audit rejected version {n} of {table_dir}; table stays at {committed}"
            )
    flip_pointer(table_dir, n)
    return n


def flip_pointer(table_dir: str, n: int) -> None:
    """THE commit point: publish version ``n`` by atomically replacing
    the pointer file.  Data is fsync'd before the rename and the
    directory after it, so a crash cannot leave a truncated pointer on
    POSIX.  Shared by ``commit_version`` and external publishers that
    assemble their own staged version (streaming/cdc.py's incremental
    merge)."""
    tmp_ptr = _pointer_path(table_dir) + ".tmp"
    with open(tmp_ptr, "w") as fh:
        fh.write(str(n))
        fh.flush()
        os.fsync(fh.fileno())  # pointer DATA durable before the rename
    os.replace(tmp_ptr, _pointer_path(table_dir))
    dir_fd = os.open(table_dir, os.O_RDONLY)
    try:
        os.fsync(dir_fd)  # rename itself durable
    finally:
        os.close(dir_fd)
    # append-only journal of provably-published versions: written only
    # AFTER the flip, so a corrupt-pointer recovery reading it can never
    # resurrect an unpublished orphan (current_version's fallback)
    with open(_journal_path(table_dir), "a") as fh:
        fh.write(f"{n}\n")
        fh.flush()
        os.fsync(fh.fileno())


def link_tree(src: str, dst: str) -> None:
    """Recursively hard-link ``src`` into ``dst`` (copy fallback for
    filesystems without links).  This is how an incremental publisher
    carries UNTOUCHED files into a new version for O(files) metadata
    cost and zero data movement — the plain-filesystem analog of a
    table format reusing data files across snapshots.  At lake scale a
    manifest of file paths replaces the links entirely."""
    os.makedirs(dst, exist_ok=True)
    for entry in os.listdir(src):
        s = os.path.join(src, entry)
        d = os.path.join(dst, entry)
        if os.path.isdir(s):
            link_tree(s, d)
        else:
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


def read_table(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the current version, or time-travel to ``version``.

    Only PUBLISHED versions (≤ the pointer) are readable: an on-disk
    ``_v{n}`` above the pointer is an aborted or audit-in-flight
    commit whose number will be REUSED by the next successful commit —
    exposing it would both leak unpublished data and break version
    immutability (the same number could return different rows before
    and after the retry).  Raises a clear error for vacuumed /
    never-written / unpublished versions."""
    committed = current_version(table_dir)
    v = committed if version is None else version
    path = os.path.join(table_dir, f"_v{v}")
    if v < 1 or v > committed or not os.path.isdir(path):
        published = [x for x in list_versions(table_dir) if x <= committed]
        raise FileNotFoundError(
            f"version {v} of {table_dir} is not published "
            f"(published: {published})"
        )
    return spark.read.parquet(path)


def vacuum(table_dir: str, keep_last: int = 2) -> list[int]:
    """Retire all but the newest ``keep_last`` PUBLISHED versions (the
    current version is always kept).  Returns the removed versions.
    The reference's 1-day lifecycle expiry (A16) is the same policy
    keyed on age instead of count."""
    committed = current_version(table_dir)
    keep = max(1, keep_last)
    published = [v for v in list_versions(table_dir) if v <= committed]
    removed = []
    for v in published[:-keep] if len(published) > keep else []:
        if v == committed:
            continue
        shutil.rmtree(os.path.join(table_dir, f"_v{v}"), ignore_errors=True)
        removed.append(v)
    return removed
