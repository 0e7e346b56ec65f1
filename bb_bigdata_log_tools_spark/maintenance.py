"""LogMaintenance: the retention / merge / filter-archive lifecycle
over the hourly .bm tree, Spark-first.

Parity targets:

- ``/root/reference/src/com/blackberry/logdriver/admin/LogMaintenance.java``
  — the depth-first sweep over
  ``<root>/<dc>/<service>/<logdir>/<yyyyMMdd>/<HH>/<component>/
  {incoming,data,archive}`` that (a) deletes hours older than the
  delete cutoff, (b) merges settled ``incoming`` hours into ``data``,
  (c) filter-archives ``data`` hours older than the archive cutoff
  (keepall → move, dropall → delete, else filter job), (d) removes old
  empty directories, and (e) propagates ``_READY`` markers up
  hour/date directories.
- ``mapreduce/boom/BoomFilterMapper.java`` — the YAML filter rules
  (regex / stringmatch / keepall / dropall per component-name regex;
  a line is kept when ANY rule accepts it).
- ``boom/ReBoomWriter.java`` — re-assembly of filtered lines
  preserving original (second, createTime, blockNumber) provenance
  (:func:`bb_bigdata_log_tools_spark.sources.boom.write_reboom_stream`).

Spark-first shape: the tree walk and renames are driver/metastore work
(as in the reference, which walks the NameNode); every per-line step —
the filter predicate and the merge sort — is a DataFrame plan. The
filter predicate is built from ``pyspark.sql.functions`` (rlike /
contains / lit), so it is pushed into the scan of whatever source the
lines come from; no Python runs per line. Both rewrites of an hour
(merge and filter-archive) write one file through ``boom.write_sorted``
and publish it through ``boom.published`` only after a full re-decode
counts the lines written (the ``fs/FileManager.java`` checksum-verified
move); only then go the source files it read. An hour with nothing
to write publishes a header-only file. Oozie submission is out of
scope (SURVEY §2). The reference's ZooKeeper maintenance locking
(``logdriver/locks/LockUtil.java``, ``admin/LockedFs.java``) — which
exists precisely so two cron-launched sweeps never compact the same
hour tree concurrently — is replaced by a best-effort marker-file
lease (:class:`MaintenanceLease`): O_CREAT|O_EXCL is atomic on
local/NFSv4-POSIX filesystems and HDFS proper (exclusive create); on
S3-style object stores it is best-effort only — see the class
docstring. The lease carries owner pid + timestamp, and stale leases
(owner crashed) are broken after a TTL. A second concurrent runner SKIPS the sweep (raises
:class:`MaintenanceLockHeld`; the CLI exits 0 with a notice), which is
the same outcome as the reference's ``lock.acquire()`` failing.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from bb_bigdata_log_tools_spark.sources import boom
from bb_bigdata_log_tools_spark.tree import STATES, hour_stamp, hour_start_ms

if TYPE_CHECKING:
    from pyspark.sql import Column, SparkSession

READY_MARKER = "_READY"
LEASE_MARKER = "_MAINTENANCE_LEASE"


class MaintenanceLockHeld(RuntimeError):
    """Another maintenance runner holds the lease on this service tree."""


class LeaseBackend:
    """Pluggable storage primitive behind :class:`MaintenanceLease`.

    The lease algorithm needs exactly three operations; anything that
    can do an ATOMIC create-if-absent can be a correct backend:

    - POSIX / HDFS: this default class (``O_CREAT|O_EXCL`` /
      exclusive ``create()``).
    - S3: conditional put (``PutObject`` with ``If-None-Match: *``) —
      subclass and override the three methods with boto3 calls.
    - DynamoDB / etcd / ZooKeeper (the reference's choice,
      ``logdriver/locks/LockUtil.java:1``): conditional put-item /
      ephemeral node.

    Deployments on object stores inject a subclass via
    ``MaintenanceLease(base, backend=...)``; the POSIX default keeps
    local/HDFS behavior unchanged.
    """

    def create_if_absent(self, path: str, payload: bytes) -> bool:
        """Atomically create ``path`` with ``payload`` iff it does not
        exist. True on success, False when it already exists."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, payload)
        finally:
            os.close(fd)
        return True

    def mtime_ms(self, path: str) -> int | None:
        """Creation/modification time of ``path`` in epoch ms, or None
        when it does not exist."""
        try:
            return int(os.stat(path).st_mtime * 1000)
        except FileNotFoundError:
            return None

    def read(self, path: str) -> str:
        try:
            with open(path, encoding="utf-8") as f:
                return f.read().strip()
        except OSError:
            return "<unreadable>"

    def delete(self, path: str) -> None:
        """Delete ``path``; missing is not an error."""
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass


class MaintenanceLease:
    """Best-effort single-runner lease over one service tree.

    Parity target: ``logdriver/locks/LockUtil.java`` /
    ``admin/LockedFs.java`` — the reference serializes maintenance over
    a log tree with ZooKeeper write locks. Here the coordination point
    is the filesystem itself: ``open(O_CREAT|O_EXCL)`` of
    ``<base>/_MAINTENANCE_LEASE`` is atomic on local/NFSv4-POSIX
    filesystems (and on HDFS proper, whose create() is
    exclusive-by-default). S3-style object stores have NO atomic
    create-if-absent through a POSIX mount, so there the POSIX default
    degrades to best-effort — deployments on object stores inject real
    coordination via ``backend=`` (a :class:`LeaseBackend` subclass
    wrapping S3 conditional put, DynamoDB conditional put-item, or
    ZooKeeper — the reference's answer) instead of relying on the
    mount. The file body records ``pid=<pid> host=<host>
    ts_ms=<acquire time>`` for operators; a lease whose file mtime is
    older than ``ttl_ms`` is presumed orphaned (holder crashed before
    the ``finally``) and is broken-then-retaken.

    Staleness is judged against the REAL wall clock, never a pinned
    ``now_ms``: the lease file's mtime comes from the holder's wall
    clock, so comparing it against a test-pinned or replayed timestamp
    would let a future-pinned sweep break a live holder's lease (two
    concurrent sweeps) or make genuinely orphaned leases unbreakable.

    This is a LEASE, not a consensus lock — a paused-then-resumed
    holder beyond the TTL could overlap with its usurper. That is the
    accepted trade for having no coordination service; the TTL default
    (2h) is far beyond a sweep's runtime, and the sweep's per-hour
    operations are themselves idempotent renames/deletes.
    """

    def __init__(self, base: str, ttl_ms: int = 2 * 60 * 60 * 1000,
                 backend: LeaseBackend | None = None):
        self.path = os.path.join(base, LEASE_MARKER)
        self.ttl_ms = ttl_ms
        self._held = False
        self.backend = backend if backend is not None else LeaseBackend()

    def _now(self) -> int:
        import time as _time

        return int(_time.time() * 1000)

    def _try_create(self) -> bool:
        payload = (
            f"pid={os.getpid()} host={os.uname().nodename} "
            f"ts_ms={self._now()}\n".encode()
        )
        return self.backend.create_if_absent(self.path, payload)

    def acquire(self) -> None:
        if self._try_create():
            self._held = True
            return
        # Lease exists: live holder → raise; stale → break and retake.
        mtime = self.backend.mtime_ms(self.path)
        if mtime is not None and self._now() - mtime <= self.ttl_ms:
            holder = self.backend.read(self.path)
            raise MaintenanceLockHeld(
                f"maintenance lease held ({holder}) at {self.path}"
            )
        self.backend.delete(self.path)
        if not self._try_create():
            raise MaintenanceLockHeld(
                f"maintenance lease re-taken concurrently at {self.path}"
            )
        self._held = True

    def release(self) -> None:
        if self._held:
            self.backend.delete(self.path)
            self._held = False

    def __enter__(self) -> "MaintenanceLease":
        self.acquire()
        return self

    def __exit__(self, *exc) -> None:
        self.release()


# ---------------------------------------------------------------------------
# filter rules (BoomFilterMapper parity)
# ---------------------------------------------------------------------------


def parse_filters(conf) -> dict:
    """The mapping of a filter definition: a dict, YAML text, or the path
    of a YAML file. Raises ``ValueError`` when it is not a mapping."""
    if isinstance(conf, str):
        import yaml  # noqa: PLC0415

        if os.path.exists(conf):
            with open(conf, encoding="utf-8") as f:
                conf = f.read()
        try:
            conf = yaml.safe_load(conf)
        except yaml.YAMLError as e:
            raise ValueError(f"not YAML: {' '.join(str(e).split())}") from e
    if not isinstance(conf, dict):
        raise ValueError(f"not a mapping of filters: {conf!r:.60}")
    return conf


def load_filters(component: str, conf) -> list[dict] | None:
    """Select the filter rule list for ``component`` from a filter
    definition (:func:`parse_filters`).

    Structure (BoomFilterMapper.loadFilters): ``{"filters": [{<component
    regex>: [{"type": regex|stringmatch|keepall|dropall, "pattern": ...},
    ...]}, ...]}``. The FIRST conf set whose key regex fully matches the
    component name wins. Returns None when no set matches (the reference
    then skips processing).
    """
    rules: list[dict] = []
    for conf_set in parse_filters(conf).get("filters", []):
        for key, items in conf_set.items():
            if re.fullmatch(key, component):
                for item in items or []:
                    ftype = (item.get("type") or "").lower()
                    pattern = item.get("pattern")
                    if ftype in ("regex", "stringmatch") and pattern is None:
                        continue  # reference warns + skips patternless rules
                    if ftype in ("regex", "stringmatch", "keepall", "dropall"):
                        rules.append({"type": ftype, "pattern": pattern})
                return rules
    return None


def filters_to_predicate(rules: list[dict]) -> Column:
    """OR of the rules' accept conditions over ``message`` — the
    BoomFilterMapper keeps a line as soon as any filter accepts it.
    Pure column expressions: regex → ``rlike`` (Java regex semantics on
    both engines), stringmatch → ``contains``."""
    from pyspark.sql import functions as F

    pred: Column | None = None
    for rule in rules:
        if rule["type"] == "keepall":
            cond = F.lit(True)
        elif rule["type"] == "dropall":
            cond = F.lit(False)
        elif rule["type"] == "regex":
            cond = F.col("message").rlike(rule["pattern"])
        else:  # stringmatch
            cond = F.col("message").contains(rule["pattern"])
        pred = cond if pred is None else (pred | cond)
    return pred if pred is not None else F.lit(False)


def _only(rules: list[dict], ftype: str) -> bool:
    return len(rules) == 1 and rules[0]["type"] == ftype


# ---------------------------------------------------------------------------
# per-hour jobs
# ---------------------------------------------------------------------------


def _rewrite(
    job: str, hour_comp_dir: str, source: str, target: str, stem: str,
    write: Callable[[list[str], str], int],
) -> int:
    """Rewrite the ``source`` state directory of an hour as one new file
    ``<target>/<stem>.NNNNN.bm``, NNNNN the first number no file there
    holds yet: ``write(files, tmp)`` writes it from the ``.bm`` files of
    ``source`` (``boom.container_ranges``) and returns its line count,
    and the file is published (:func:`boom.published`) only once ``tmp``
    re-decodes in full to that count — a streaming decode through an
    mmap, the ``fs/FileManager.java`` checksum-verified-move analog.
    Only then are those files removed, and ``source`` with them if
    nothing else is left in it; anything else stays, named on stderr. An unreadable or
    short file raises, leaving no file and ``source`` as it was. A reader
    of the hour sees the old state or the new, never a half-written
    file. Returns the line count."""
    src = os.path.join(hour_comp_dir, source)
    out_dir = os.path.join(hour_comp_dir, target)
    os.makedirs(out_dir, exist_ok=True)
    files = sorted({f for f, _, _ in boom.container_ranges(src)})
    n_out = 0
    while os.path.exists(os.path.join(out_dir, f"{stem}.{n_out:05d}.bm")):
        n_out += 1
    kept = f"{source} retained"
    with boom.published(os.path.join(out_dir, f"{stem}.{n_out:05d}.bm")) as tmp:
        n = write(files, tmp)
        try:
            got = sum(1 for _ in boom.scan_boom_range(tmp))
        except Exception as e:
            raise RuntimeError(
                f"{job} verification failed: {tmp} is unreadable ({e}); {kept}"
            ) from e
        if got != n:
            raise RuntimeError(
                f"{job} verification failed: wrote {n} lines, re-read {got}; {kept}"
            )
    for f in files:
        os.remove(f)
    left = sorted(os.listdir(src))
    if left:
        print(f"{job}: kept {src}, which holds what the {job} did not read: "
              f"{', '.join(left)}", file=sys.stderr)
    else:
        os.rmdir(src)
    return n


def merge_incoming_dir(spark: SparkSession, hour_comp_dir: str) -> int:
    """The merge job: compact a settled ``incoming`` directory's part
    files into one .bm in ``data`` (:func:`compact_boom_dir`), then
    remove the files it merged (:func:`_rewrite`). Returns the number of lines
    merged.
    """
    return _rewrite(
        "merge", hour_comp_dir, "incoming", "data", "part-merged",
        lambda files, tmp: boom.compact_boom_dir(spark, files, tmp),
    )


def filter_archive_dir(
    spark: SparkSession, hour_comp_dir: str, rules: list[dict]
) -> int:
    """The filter/archive job: read ``data``, keep lines any rule
    accepts, ReBoom-write them (original createTime/blockNumber
    preserved) into ``archive``, then delete the files it read
    (:func:`_rewrite`).

    The lines are written in original file order, (create_time,
    block_no, ts, line_no), by :func:`write_sorted` through the
    streaming ReBoom writer. Returns the number of lines archived.
    """
    reboom = boom.write_reboom_stream  # looked up on the driver, not in the task

    def write(files: list[str], tmp: str) -> int:
        kept = boom.read_boom(spark, files).filter(filters_to_predicate(rules))
        return boom.write_sorted(
            kept, ["create_time", "block_no", "ts", "line_no"], tmp,
            lambda path, rows: reboom(path, (r[:5] for r in rows)),  # all but line_no
        )

    return _rewrite("archive", hour_comp_dir, "data", "archive", "part-filtered", write)


# ---------------------------------------------------------------------------
# the sweep
# ---------------------------------------------------------------------------


@dataclass
class MaintenanceReport:
    merged: list[str] = field(default_factory=list)
    archived: list[str] = field(default_factory=list)
    kept: list[str] = field(default_factory=list)  # keepall: moved data→archive
    dropped: list[str] = field(default_factory=list)  # dropall: data deleted
    deleted: list[str] = field(default_factory=list)  # past delete cutoff
    empties_removed: list[str] = field(default_factory=list)
    ready_marked: list[str] = field(default_factory=list)
    lines_merged: int = 0
    lines_archived: int = 0

    def summary(self) -> str:
        return (
            f"merged={len(self.merged)} ({self.lines_merged} lines) "
            f"archived={len(self.archived)} ({self.lines_archived} lines) "
            f"kept={len(self.kept)} dropped={len(self.dropped)} "
            f"deleted={len(self.deleted)} empties={len(self.empties_removed)} "
            f"ready={len(self.ready_marked)}"
        )


def _mtime_ms(path: str) -> int:
    try:
        return int(os.lstat(path).st_mtime * 1000)
    except OSError:
        return 0


def log_maintenance(
    spark: SparkSession,
    root: str,
    dc: str,
    service: str,
    logdir: str = "logs",
    date: str | None = None,
    hour: str | None = None,
    days_before_archive: int | None = None,
    days_before_delete: int | None = None,
    filters_conf=None,
    now_ms: int | None = None,
    wait_time_ms: int = 10 * 60 * 1000,
    do_merge: bool = True,
) -> MaintenanceReport:
    """One maintenance sweep over ``<root>/<dc>/<service>/<logdir>``.

    Decision rules (LogMaintenance.run):

    - directories modified within ``wait_time_ms`` are skipped (still
      being written);
    - ``incoming``/``data``/``archive`` whose ``yyyyMMddHH`` stamp sorts
      before the delete cutoff are deleted recursively;
    - settled ``incoming`` dirs holding ``.bm`` part files that the merge
      reads (``boom.container_ranges``) are merged into ``data`` (one
      compacted .bm, header-only when they hold no line);
    - ``data`` dirs older than the archive cutoff are filter-archived
      per the component's rules: keepall-only → files MOVED to
      ``archive``; dropall-only → data deleted; otherwise the filter
      job runs (no rules for the component → skipped, as the reference
      warns-and-skips);
    - old empty directories (or containing only ``_READY``) are pruned;
    - hour/date dirs whose child dirs all carry ``_READY`` get one.

    ``date``/``hour`` narrow the sweep like the reference's optional
    positional args. ``now_ms`` pins time for tests.

    The sweep holds the service tree's :class:`MaintenanceLease` and
    raises :class:`MaintenanceLockHeld` if another runner holds it — the
    LockedFs/ZooKeeper analog.
    """
    import time as _time

    now = int(_time.time() * 1000) if now_ms is None else now_ms

    def cutoff(days: int | None) -> str | None:
        """The hour stamp ``days`` before now; None when unset or negative."""
        return hour_stamp(now - days * 86_400_000) if days is not None and days >= 0 else None

    base = os.path.join(root, dc, service, logdir)
    if not os.path.isdir(base):
        return MaintenanceReport()
    if filters_conf is not None:
        filters_conf = parse_filters(filters_conf)
    with MaintenanceLease(base):
        return _sweep(
            spark, base, date, hour, now, cutoff(days_before_delete),
            cutoff(days_before_archive), filters_conf, wait_time_ms, do_merge,
        )


def _sweep(
    spark: SparkSession,
    base: str,
    date: str | None,
    hour: str | None,
    now: int,
    delete_cut: str | None,
    archive_cut: str | None,
    filters_conf,
    wait_time_ms: int,
    do_merge: bool,
) -> MaintenanceReport:
    """The body of :func:`log_maintenance`, run under its lease."""
    report = MaintenanceReport()

    def is_old(path: str) -> bool:
        return _mtime_ms(path) < now - wait_time_ms

    def mark_ready_if_children_ready(dir_path: str, children: list[str]) -> None:
        if os.path.exists(os.path.join(dir_path, READY_MARKER)):
            return
        child_dirs = [
            c for c in children if os.path.isdir(os.path.join(dir_path, c))
        ]
        if child_dirs and all(
            os.path.exists(os.path.join(dir_path, c, READY_MARKER))
            for c in child_dirs
        ):
            open(os.path.join(dir_path, READY_MARKER), "w").close()
            report.ready_marked.append(dir_path)

    # Single top-down depth-first sweep, exactly the reference's control
    # flow: a dir is visited BEFORE its children, so ready markers are
    # assessed while children still exist, and empty/marker-only dirs
    # collapse upward one sweep at a time.
    stack = [base]
    while stack:
        p = stack.pop()
        if not os.path.isdir(p):
            continue
        children = sorted(os.listdir(p))
        # <date>[/<hour>[/<comp>/<state>]] below base: an hour of the
        # tree (tree.hour_start_ms) that the date/hour arguments name
        parts = os.path.relpath(p, base).split(os.sep)
        d, h = (parts + [hour or "00"])[:2]
        in_sweep = hour_start_ms(d, h) is not None and date in (None, d) and hour in (None, h)

        if not is_old(p):
            pass  # too young to touch; still descend
        elif p != base and (
            not children or children == [READY_MARKER]
        ):
            # old and no (real) children? Delete!
            shutil.rmtree(p)
            report.empties_removed.append(p)
            continue
        else:
            if len(parts) <= 2 and in_sweep:
                mark_ready_if_children_ready(p, children)

            if len(parts) == 4 and parts[3] in STATES and in_sweep:
                stamp, comp, state = d + h, parts[2], parts[3]
                if delete_cut is not None and stamp < delete_cut:
                    shutil.rmtree(p)
                    report.deleted.append(p)
                    continue
                if state == "incoming" and do_merge and boom.container_ranges(p):
                    report.lines_merged += merge_incoming_dir(
                        spark, os.path.dirname(p)
                    )
                    report.merged.append(p)
                    continue
                if (
                    state == "data"
                    and archive_cut is not None
                    and stamp < archive_cut
                    and filters_conf is not None
                ):
                    comp_dir = os.path.dirname(p)
                    archive = os.path.join(comp_dir, "archive")
                    rules = load_filters(comp, filters_conf)
                    if not rules:
                        continue  # no rules for this component: warn+skip
                    if _only(rules, "keepall"):
                        os.makedirs(archive, exist_ok=True)
                        for name in children:
                            os.rename(
                                os.path.join(p, name),
                                os.path.join(archive, name),
                            )
                        shutil.rmtree(p)
                        report.kept.append(comp_dir)
                    elif _only(rules, "dropall"):
                        shutil.rmtree(p)
                        report.dropped.append(comp_dir)
                    else:
                        report.lines_archived += filter_archive_dir(
                            spark, comp_dir, rules
                        )
                        report.archived.append(comp_dir)
                    continue

        for c in reversed(children):
            cp = os.path.join(p, c)
            if os.path.isdir(cp):
                stack.append(cp)

    return report
