"""Pluggable filesystem seam for the managed-table METADATA lifecycle.

Everything the engine persists beside the data — segment manifests
(``_segments/*.json``), materialized rollup states (``_materialized/``),
the result cache (``_cache/``), ANN index artifacts — went through
driver-local POSIX calls (``os.listdir``/``open``/``os.replace``) before
round 7. Data I/O always rode Spark's Hadoop filesystem layer (any URI
works), but a ``table_root`` of ``s3://…`` or ``hdfs://…`` broke the
managed lifecycle. The reference was HDFS-native throughout: its schema
files resolve HDFS-first (DruidStorage.java:267-282) and segments load
from HDFS per the descriptor.json loadSpec — this module is that
capability re-expressed for the Spark engine.

Design:

- ``get_fs(path)`` maps a path/URI to a :class:`MetaFS` via a scheme
  registry. Plain paths and ``file://`` get :class:`LocalMetaFS`
  (pure ``os``, byte-identical behavior to the pre-seam code).
  ``objectsim://`` gets a LOCAL-DISK-BACKED simulation of an object
  store — same list/read/put/delete surface, but **directory rename is
  forbidden** (``atomic_dir_rename = False``), exactly the property
  that makes S3/GCS different. Unknown schemes fall through to
  ``pyarrow.fs.FileSystem.from_uri`` (S3/GCS/HDFS/Azure), with
  ``atomic_dir_rename`` False except for HDFS-like backends.

- **Atomicity contract per backend** (NOTES.md):

  * single METADATA FILES (manifests, spec.json, query.json, ANN
    artifacts) publish via :meth:`MetaFS.put_text`. Rename backends:
    write-tmp + rename. Object stores: a PUT is atomic per object
    (readers see the old object or the new one, never a partial), so
    the write IS the publish — no rename needed, no assumption made.

  * PARQUET DIRECTORIES (states, cache entries) publish via
    :func:`publish_parquet_dir`. Rename backends: write tmp dir,
    ``rename`` — unchanged. No-rename backends use a POINTER protocol:
    the writer writes a COMPLETE dir under a unique token name
    (``<dest>.<token>/``), then atomically PUTs a tiny pointer object
    (``<dest>.ptr.json``) naming it. Readers resolve through the
    pointer, so they only ever see complete directories. Two
    concurrent fillers both write complete, identical-content dirs;
    whichever pointer PUT lands last wins and the loser's dir becomes
    unreferenced garbage that ``vacuum_*`` reclaims (age-gated). This
    needs NO rename and NO conditional-put — plain last-writer-wins
    PUT is enough because both candidate targets are complete.

  * SEGMENT DATA publishes are already object-store-safe by
    construction: ``write_segment`` writes the parquet dir directly
    and the manifest PUT — a single object — is the commit.
    ``publish_segments`` promotes staged bucket dirs by rename where
    the backend has it, by per-file copy (server-side on real object
    stores) where it doesn't; manifests still land last either way.
"""

from __future__ import annotations

import json
import os
import posixpath
import shutil
import time
import uuid

#: suffix of the pointer object in the no-rename directory-publish protocol
PTR_SUFFIX = ".ptr.json"


def prefix_age_s(fs, path: str, now: float | None = None) -> float | None:
    """Age in seconds of the newest write under ``path``, or ``None``
    when no trustworthy age exists — the SAFE input to every
    reclamation age gate.

    Object-store prefixes are VIRTUAL directories: pyarrow reports no
    mtime for them (``ArrowMetaFS.mtime`` surfaces 0.0), so an age gate
    that trusts the dir mtime alone sees every in-flight writer's
    staged tree as infinitely old and vacuums data a later commit then
    registers — silent data loss on real S3/GCS, masked by the local
    test backends whose directories carry real mtimes. The rule here:
    a positive dir mtime is authoritative; otherwise age comes from the
    NEWEST file under the prefix (objects always carry a real mtime on
    every backend); an unlistable or empty prefix yields ``None`` —
    callers must treat ``None`` as NOT old enough, because refusing to
    reclaim is always safe and a later pass retries."""
    if now is None:
        now = time.time()
    try:
        dir_mtime = fs.mtime(path)
    except (FileNotFoundError, OSError):
        return None
    if dir_mtime > 0:
        return now - dir_mtime
    # ONE recursive listing whose entries carry mtimes (newest_mtime);
    # never one mtime round-trip per file — a vacuum sweep over N staged
    # dirs of K part-files would otherwise pay N×K HEADs on real stores
    try:
        newest = fs.newest_mtime(path)
    except (FileNotFoundError, OSError):
        return None
    if newest <= 0:
        return None
    return now - newest


def old_enough(fs, path: str, min_age_s: float, now: float | None = None) -> bool:
    """The reclamation age gate: ``path``'s ``prefix_age_s`` is known and
    at least ``min_age_s``. No trustworthy age means not old enough —
    never yank an in-flight writer's tree."""
    age = prefix_age_s(fs, path, now=now)
    return age is not None and age >= min_age_s


def _local_put_if_absent(local_path: str, text: str) -> bool:
    """Atomic CONTENT-CARRYING create-if-absent for local-disk-backed
    stores: write the full body to a private temp file, then
    ``os.link(tmp, path)`` — hardlink creation is kernel-arbitrated
    create-if-absent, and the new name carries the complete content the
    instant it exists. A plain O_EXCL-create-then-write leaves a window
    where a reader sees an EMPTY newborn file; the lease steal protocol
    (sources/lease.py) could misread that as a dead lease and
    compare-and-delete the winner's fresh acquisition — two concurrent
    holders on the path that promises a true mutex. The link protocol
    removes the window entirely, matching real S3 where a conditional
    PUT is atomic with its body."""
    tmp = f"{local_path}.__ifabsent-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(text)
    try:
        os.link(tmp, local_path)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def _local_delete_if_unchanged(local_path: str, expected_text: str) -> bool:
    """Atomic compare-and-delete for local-disk-backed stores: a sidecar
    O_EXCL lock makes the read-compare-remove one cross-process critical
    section (the kernel arbitrates), so two racers can never both see a
    match — the faithful local simulation of an ETag If-Match DELETE."""
    lock = local_path + ".__caslock"
    deadline = time.time() + 5.0
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            if time.time() > deadline:
                # a crashed locker's leftover: clear and retry (the
                # window is microseconds; 5 s is decisively stale).
                # RESET the deadline after breaking ONE stale lock —
                # without the reset, every later FileExistsError would
                # also remove the (now live) lock a concurrent racer
                # just acquired, letting two racers into the critical
                # section at once.
                try:
                    os.remove(lock)
                except FileNotFoundError:
                    pass
                deadline = time.time() + 5.0
            time.sleep(0.005)
    try:
        os.close(fd)
        try:
            with open(local_path) as f:
                cur = f.read()
        except FileNotFoundError:
            return False
        if cur != expected_text:
            return False
        try:
            os.remove(local_path)
        except FileNotFoundError:
            # a racer that broke our lock as stale deleted it between
            # our compare and remove: the delete did not happen HERE
            return False
        return True
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


class MetaFS:
    """Minimal filesystem surface the metadata lifecycle needs.

    All methods take full paths in the TABLE-ROOT namespace (including
    the scheme prefix when there is one). ``spark_url`` translates such
    a path into the URI the Spark JVM reads/writes the same bytes at.
    """

    #: directory rename is atomic and cheap (POSIX, HDFS). When False,
    #: callers must use the pointer protocol for directory publishes.
    atomic_dir_rename: bool = True

    # --- path math -----------------------------------------------------
    def join(self, *parts: str) -> str:
        return posixpath.join(*parts)

    def parent(self, path: str) -> str:
        return posixpath.dirname(path)

    def name(self, path: str) -> str:
        return posixpath.basename(path)

    def spark_url(self, path: str) -> str:
        """URI for the JVM side (identity on local filesystems)."""
        raise NotImplementedError

    # --- queries -------------------------------------------------------
    def ls(self, path: str) -> list[str]:
        """Sorted child NAMES of a directory; [] if it doesn't exist."""
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def isdir(self, path: str) -> bool:
        raise NotImplementedError

    def mtime(self, path: str) -> float:
        raise NotImplementedError

    def list_files(self, path: str, suffix: str = "",
                   recursive: bool = False) -> list[tuple[str, int]]:
        """(path, size) for plain files under ``path``."""
        raise NotImplementedError

    def newest_mtime(self, path: str) -> float:
        """mtime of the NEWEST file under ``path`` (recursive), 0.0 when
        empty/missing — the age primitive reclamation gates use on
        virtual-directory stores. Default: one listing + one mtime call
        per file (fine locally); ArrowMetaFS overrides with a SINGLE
        listing whose FileInfo rows already carry mtimes, so an object-
        store age probe costs 1 LIST instead of 1 LIST + K HEADs."""
        newest = 0.0
        try:
            files = self.list_files(path, recursive=True)
        except (FileNotFoundError, OSError):
            return 0.0
        for fpath, _size in files:
            try:
                newest = max(newest, self.mtime(fpath))
            except (FileNotFoundError, OSError):
                continue
        return newest

    # --- mutations -----------------------------------------------------
    def mkdirs(self, path: str) -> None:
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        raise NotImplementedError

    def put_text(self, path: str, text: str) -> None:
        """ATOMIC single-object publish (see module docstring)."""
        raise NotImplementedError

    #: True when ``put_text_if_absent`` is a REAL compare-and-swap
    #: (POSIX O_EXCL). Object stores generally lack one — callers
    #: (sources/lease.py) fall back to a put-settle-verify dance.
    supports_put_if_absent: bool = False

    def put_text_if_absent(self, path: str, text: str) -> bool:
        """Create ``path`` with ``text`` ONLY if it does not exist;
        returns whether this call created it. Exactly one of N
        concurrent callers wins. Only valid when
        ``supports_put_if_absent``."""
        raise NotImplementedError(
            f"{type(self).__name__} has no atomic create-if-absent"
        )

    #: True when ``delete_file_if_unchanged`` is a REAL atomic
    #: compare-and-delete (POSIX via a sidecar O_EXCL lock; object
    #: stores via ETag ``If-Match`` DELETE — public S3 behavior since
    #: late 2024, GCS generation preconditions). With both conditional
    #: primitives the lease protocol (sources/lease.py) upgrades its
    #: expired-steal path from put-settle-verify to a true mutex.
    supports_conditional_delete: bool = False

    def delete_file_if_unchanged(self, path: str,
                                 expected_text: str) -> bool:
        """Delete ``path`` ONLY if its current content equals
        ``expected_text`` (the If-Match shape, keyed by content — for
        single-part object PUTs the ETag IS the content MD5, so a real
        backend implements this with one conditional DELETE). Returns
        whether this call deleted it; False when the object is missing
        or changed. Only valid when ``supports_conditional_delete``."""
        raise NotImplementedError(
            f"{type(self).__name__} has no atomic compare-and-delete"
        )

    def delete_file(self, path: str) -> None:
        """Remove one file; missing is not an error."""
        raise NotImplementedError

    def delete_dir(self, path: str) -> None:
        """Recursive remove; missing is not an error."""
        raise NotImplementedError

    def rename_dir(self, src: str, dst: str) -> None:
        """Atomic directory move. Only valid when ``atomic_dir_rename``."""
        raise NotImplementedError(
            f"{type(self).__name__} has no atomic directory rename — "
            "use copy_tree / the pointer protocol"
        )

    def copy_tree(self, src: str, dst: str) -> None:
        """Per-file copy of a directory tree (promotion fallback on
        no-rename backends; server-side copy on real object stores)."""
        raise NotImplementedError

    # --- bulk mutations ------------------------------------------------
    # On a real object store every delete is a network round-trip, so a
    # 10k-entry vacuum sweep run sequentially is 10k × RTT. These bulk
    # forms overlap the round-trips with a small thread pool (pyarrow
    # filesystems release the GIL during I/O). Pool width is per backend:
    # local disk is GIL/syscall-bound (measured: 4 workers beat both 1
    # and 16 on a 10k-rmtree sweep — 3.1 s vs 5.5 s vs 6.6 s), remote
    # stores are latency-bound and want wide overlap. Subclasses whose
    # backend has a true batch API (e.g. S3 DeleteObjects) may override.

    #: default thread-pool width for bulk deletes
    bulk_parallelism: int = 16

    def delete_files(self, paths, parallelism: int | None = None) -> None:
        """Remove many files; missing entries are not errors."""
        _bulk(self.delete_file, paths, parallelism or self.bulk_parallelism)

    def delete_dirs(self, paths, parallelism: int | None = None) -> None:
        """Recursively remove many directories; missing is not an error."""
        _bulk(self.delete_dir, paths, parallelism or self.bulk_parallelism)


def _bulk(fn, paths, parallelism: int) -> None:
    paths = list(paths)
    if len(paths) <= 1:
        for p in paths:
            fn(p)
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(parallelism, len(paths))) as ex:
        for _ in ex.map(fn, paths):
            pass


class LocalMetaFS(MetaFS):
    """Plain POSIX — byte-identical behavior to the pre-seam code."""

    atomic_dir_rename = True
    bulk_parallelism = 4  # syscall-bound, not latency-bound (see MetaFS)

    def join(self, *parts: str) -> str:
        return os.path.join(*parts)

    def parent(self, path: str) -> str:
        return os.path.dirname(path)

    def name(self, path: str) -> str:
        return os.path.basename(path)

    def spark_url(self, path: str) -> str:
        return path

    def ls(self, path: str) -> list[str]:
        try:
            return sorted(os.listdir(path))
        except FileNotFoundError:
            return []

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def mtime(self, path: str) -> float:
        return os.path.getmtime(path)

    def list_files(self, path, suffix="", recursive=False):
        out = []
        if recursive:
            for root, _dirs, files in os.walk(path):
                for f in files:
                    if f.endswith(suffix):
                        p = os.path.join(root, f)
                        out.append((p, os.path.getsize(p)))
        else:
            for f in self.ls(path):
                p = os.path.join(path, f)
                if f.endswith(suffix) and os.path.isfile(p):
                    out.append((p, os.path.getsize(p)))
        return sorted(out)

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def put_text(self, path: str, text: str) -> None:
        self.mkdirs(os.path.dirname(path))
        tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)

    supports_put_if_absent = True

    def put_text_if_absent(self, path: str, text: str) -> bool:
        self.mkdirs(os.path.dirname(path))
        return _local_put_if_absent(path, text)

    supports_conditional_delete = True

    def delete_file_if_unchanged(self, path: str,
                                 expected_text: str) -> bool:
        return _local_delete_if_unchanged(path, expected_text)

    def delete_file(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def delete_dir(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def rename_dir(self, src: str, dst: str) -> None:
        os.replace(src, dst)

    def copy_tree(self, src: str, dst: str) -> None:
        shutil.copytree(src, dst, dirs_exist_ok=True)


class ObjectStoreSimFS(MetaFS):
    """Local-disk-backed SIMULATION of an object store.

    ``objectsim:///abs/path`` stores bytes at ``/abs/path`` (so the
    Spark JVM reads/writes them through ``file://``), but the metadata
    surface behaves like S3/GCS: **no directory rename** — callers that
    assume one get a loud ``NotImplementedError`` — and ``put_text`` is
    an atomic whole-object PUT. The lifecycle test suite runs the full
    publish → overshadow → load → compact → cache flow through this
    class, proving no code path still assumes rename atomicity.
    """

    SCHEME = "objectsim://"
    atomic_dir_rename = False
    bulk_parallelism = 4  # the SIMULATION's backend is local disk

    def _local(self, path: str) -> str:
        if path.startswith(self.SCHEME):
            return path[len(self.SCHEME) - 1:] \
                if path[len(self.SCHEME):].startswith("/") \
                else "/" + path[len(self.SCHEME):]
        if path.startswith("file://"):
            return path[len("file://"):]
        return path

    def spark_url(self, path: str) -> str:
        return "file://" + self._local(path)

    def ls(self, path: str) -> list[str]:
        try:
            return sorted(os.listdir(self._local(path)))
        except FileNotFoundError:
            return []

    def exists(self, path: str) -> bool:
        return os.path.exists(self._local(path))

    def isdir(self, path: str) -> bool:
        return os.path.isdir(self._local(path))

    def mtime(self, path: str) -> float:
        return os.path.getmtime(self._local(path))

    def list_files(self, path, suffix="", recursive=False):
        return LocalMetaFS().list_files(self._local(path), suffix, recursive)

    def mkdirs(self, path: str) -> None:
        # object stores have no directories; creating parents is a no-op
        # that must nevertheless leave Spark able to write under the
        # prefix — locally that means the dirs must exist
        os.makedirs(self._local(path), exist_ok=True)

    def read_text(self, path: str) -> str:
        with open(self._local(path)) as f:
            return f.read()

    def put_text(self, path: str, text: str) -> None:
        # simulates one atomic PUT: the object appears whole or not at
        # all (locally: hidden side-file + replace — the replace is the
        # SIMULATION of PUT atomicity, not a protocol the engine relies
        # on; engine code never calls rename on this class)
        local = self._local(path)
        os.makedirs(os.path.dirname(local), exist_ok=True)
        tmp = f"{local}.__put-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, local)

    def delete_file(self, path: str) -> None:
        try:
            os.remove(self._local(path))
        except FileNotFoundError:
            pass

    def delete_dir(self, path: str) -> None:
        shutil.rmtree(self._local(path), ignore_errors=True)

    def copy_tree(self, src: str, dst: str) -> None:
        shutil.copytree(self._local(src), self._local(dst),
                        dirs_exist_ok=True)


class ObjectStoreCasFS(ObjectStoreSimFS):
    """``objectcas://`` — :class:`ObjectStoreSimFS` plus the CONDITIONAL
    WRITE surface modern object stores expose publicly: S3 accepts
    ``If-None-Match: *`` on PUT (create-if-absent, announced 2024) and
    ETag ``If-Match`` on overwrite/DELETE (late 2024); GCS has had
    generation preconditions for years. Same no-rename object semantics
    as objectsim everywhere else, so the lifecycle suite's protocols are
    unchanged — but the lease protocol (sources/lease.py) detects the
    two conditional primitives and upgrades from put-settle-verify to a
    TRUE mutex, closing the put-visibility residual documented there.

    The simulation backs both primitives with kernel-arbitrated local
    primitives (O_EXCL create; sidecar-locked compare-and-delete) —
    faithful to the real store's atomicity, keyed by content where S3
    keys by ETag (identical for single-part PUTs: the ETag is the
    content MD5)."""

    SCHEME = "objectcas://"
    supports_put_if_absent = True
    supports_conditional_delete = True

    def put_text_if_absent(self, path: str, text: str) -> bool:
        local = self._local(path)
        os.makedirs(os.path.dirname(local), exist_ok=True)
        return _local_put_if_absent(local, text)

    def delete_file_if_unchanged(self, path: str,
                                 expected_text: str) -> bool:
        return _local_delete_if_unchanged(self._local(path), expected_text)


class ArrowMetaFS(MetaFS):
    """Real remote filesystems via ``pyarrow.fs.FileSystem.from_uri``
    (S3, GCS, HDFS, Azure). ``atomic_dir_rename`` is True only for
    HDFS-like backends; object stores take the pointer/copy protocols.

    Untestable in this environment (no cluster, no credentials), but it
    shares every protocol decision with :class:`ObjectStoreSimFS`, which
    the lifecycle suite DOES exercise — the only untested surface is the
    pyarrow call mapping below.
    """

    #: spark scheme translation (s3 reads via the s3a Hadoop connector)
    _SPARK_SCHEME = {"s3": "s3a", "gs": "gs", "hdfs": "hdfs", "abfs": "abfs"}

    # defaults so test/embedding subclasses that skip __init__ still work
    _netloc = ""
    _netloc_in_path = False

    @classmethod
    def from_filesystem(cls, backend, scheme: str, netloc: str,
                        netloc_in_path: bool = True,
                        atomic_dir_rename: bool = False,
                        boto_opts: dict | None = None) -> "ArrowMetaFS":
        """Wrap an ALREADY-CONSTRUCTED pyarrow filesystem (explicit
        credentials, custom endpoint) instead of ``from_uri``'s
        env-resolved one. Used by :func:`configure_object_store`.
        ``boto_opts`` (s3 only) are passed to the boto3 client backing
        the conditional-write calls; None disables them (the lease
        falls back to put-settle-verify)."""
        self = cls.__new__(cls)
        self._fs = backend
        self._base = ""
        self._scheme = scheme
        self._netloc = netloc
        self._netloc_in_path = netloc_in_path
        self.atomic_dir_rename = atomic_dir_rename
        if scheme == "s3" and boto_opts is not None:
            self._boto_opts = boto_opts
            self._init_conditional_flags()
        return self

    def __init__(self, uri: str):
        from urllib.parse import urlparse

        from pyarrow import fs as pafs

        self._fs, self._base = pafs.FileSystem.from_uri(uri)
        parsed = urlparse(uri)
        self._scheme = parsed.scheme
        # HDFS-style URIs carry an authority (namenode:port) that the
        # backend filesystem does NOT want in its paths (from_uri's
        # returned base path is authority-free); S3-style URIs put the
        # bucket in netloc and the backend DOES want it ('bucket/key').
        # Detect which convention from_uri used by checking whether the
        # netloc survived into the base path it returned.
        self._netloc = parsed.netloc
        self._netloc_in_path = bool(
            parsed.netloc and self._base.split("/", 1)[0] == parsed.netloc
        )
        self.atomic_dir_rename = self._scheme in ("hdfs", "viewfs")
        self._init_conditional_flags()

    # --- conditional writes (s3) ---------------------------------------
    # S3 accepts `If-None-Match: *` on PUT (create-if-absent, public
    # since 2024) and ETag `If-Match` on DELETE (late 2024) — exactly
    # the two primitives that upgrade the lease protocol to a true
    # mutex (sources/lease.py). pyarrow.fs exposes no conditional
    # headers, so these calls route through a boto3 client sharing the
    # standard credential chain (or configure_object_store's explicit
    # options). Without boto3 the flags stay False and the lease falls
    # back to put-settle-verify. If-Match is keyed by the content MD5 —
    # the ETag of any single-part, non-KMS PUT (lease objects are tiny
    # single PUTs); on SSE-KMS buckets the ETag differs, the compare
    # fails, and the steal REFUSES — a safe failure, never a double
    # acquisition.

    _boto_opts: dict = {}
    _conditional = None  # memoized boto3 client; False = unavailable

    def _init_conditional_flags(self) -> None:
        if self._scheme == "s3":
            import importlib.util

            has = importlib.util.find_spec("boto3") is not None
            self.supports_put_if_absent = has
            self.supports_conditional_delete = has

    def _s3_client(self):
        if self._conditional is None:
            try:
                import boto3

                self._conditional = boto3.client("s3", **self._boto_opts)
            except Exception:
                self._conditional = False
        return self._conditional or None

    def _boto_metadata_client(self):
        """boto3 client for the metadata fast paths (single-request
        put/get/delete), or None when pyarrow must be used. Gated on
        the SAME condition as the conditional-write lease calls
        (``supports_put_if_absent``): it is True only when this
        instance was configured FOR boto3 — from_uri construction
        (boto3's default chain matches the env credentials pyarrow
        resolves) or configure_object_store with explicit options
        (mirrored into ``_boto_opts``, endpoint included). An
        ``anonymous=True`` store sets ``boto_opts=None`` and the flag
        stays False: unsigned access must keep flowing through the
        configured pyarrow backend, never a default-chain boto3 client
        pointed at real AWS (round-12 review catch)."""
        if self._scheme != "s3" or not self.supports_put_if_absent:
            return None
        return self._s3_client()

    def _bucket_key(self, path: str) -> tuple[str, str]:
        p = self._p(path).lstrip("/")
        bucket, _, key = p.partition("/")
        return bucket, key

    @staticmethod
    def _error_code(e: Exception) -> str:
        return getattr(e, "response", {}).get("Error", {}).get("Code", "")

    def put_text_if_absent(self, path: str, text: str) -> bool:
        client = self._s3_client() if self._scheme == "s3" else None
        if client is None:
            raise NotImplementedError(
                f"{self._scheme} has no atomic create-if-absent here "
                "(boto3 unavailable)")
        bucket, key = self._bucket_key(path)
        try:
            client.put_object(Bucket=bucket, Key=key,
                              Body=text.encode("utf-8"), IfNoneMatch="*")
            return True
        except Exception as e:
            # 412 = the object exists; 409 = a concurrent conditional
            # writer is mid-flight — in both cases this caller LOST
            if self._error_code(e) in ("PreconditionFailed",
                                       "ConditionalRequestConflict"):
                return False
            raise

    def delete_file_if_unchanged(self, path: str,
                                 expected_text: str) -> bool:
        import hashlib

        client = self._s3_client() if self._scheme == "s3" else None
        if client is None:
            raise NotImplementedError(
                f"{self._scheme} has no atomic compare-and-delete here "
                "(boto3 unavailable)")
        bucket, key = self._bucket_key(path)
        etag = '"' + hashlib.md5(expected_text.encode("utf-8")).hexdigest() + '"'
        try:
            client.delete_object(Bucket=bucket, Key=key, IfMatch=etag)
            return True
        except Exception as e:
            # PreconditionFailed = content changed; 404/NoSuchKey = the
            # object is already gone; Conflict = a concurrent
            # conditional writer — all mean this caller must NOT
            # proceed as the deleter
            if self._error_code(e) in ("PreconditionFailed",
                                       "ConditionalRequestConflict",
                                       "NoSuchKey", "404"):
                return False
            raise

    def _p(self, path: str) -> str:
        if "://" not in path:
            return path
        rest = path.split("://", 1)[1]
        if self._netloc and not self._netloc_in_path:
            # strip 'namenode:port' → '/warehouse/…'
            if rest.startswith(self._netloc):
                rest = rest[len(self._netloc):] or "/"
        return rest

    def _qualify(self, backend_path: str) -> str:
        """Backend path → fully-qualified URI (re-adds a stripped
        authority so HDFS URLs keep their namenode)."""
        if self._netloc and not self._netloc_in_path:
            return f"{self._scheme}://{self._netloc}{backend_path}"
        return f"{self._scheme}://{backend_path}"

    def spark_url(self, path: str) -> str:
        scheme = self._SPARK_SCHEME.get(self._scheme, self._scheme)
        q = self._qualify(self._p(path))
        return scheme + q[len(self._scheme):]

    def ls(self, path: str) -> list[str]:
        from pyarrow import fs as pafs

        try:
            sel = pafs.FileSelector(self._p(path), recursive=False)
            infos = self._fs.get_file_info(sel)
        except FileNotFoundError:
            return []
        return sorted(i.base_name for i in infos)

    def _info(self, path: str):
        return self._fs.get_file_info(self._p(path))

    def exists(self, path: str) -> bool:
        from pyarrow import fs as pafs

        return self._info(path).type != pafs.FileType.NotFound

    def isdir(self, path: str) -> bool:
        from pyarrow import fs as pafs

        return self._info(path).type == pafs.FileType.Directory

    def mtime(self, path: str) -> float:
        mt = self._info(path).mtime
        return mt.timestamp() if mt is not None else 0.0

    def list_files(self, path, suffix="", recursive=False):
        from pyarrow import fs as pafs

        try:
            sel = pafs.FileSelector(self._p(path), recursive=recursive)
            infos = self._fs.get_file_info(sel)
        except FileNotFoundError:
            return []
        return sorted(
            (self._qualify(i.path), i.size or 0)
            for i in infos
            if i.type == pafs.FileType.File and i.base_name.endswith(suffix)
        )

    def newest_mtime(self, path: str) -> float:
        from pyarrow import fs as pafs

        try:
            sel = pafs.FileSelector(self._p(path), recursive=True)
            infos = self._fs.get_file_info(sel)
        except (FileNotFoundError, OSError):
            return 0.0
        newest = 0.0
        for i in infos:
            if i.type == pafs.FileType.File and i.mtime is not None:
                newest = max(newest, i.mtime.timestamp())
        return newest

    def mkdirs(self, path: str) -> None:
        # no-rename backends ARE object stores: they have no
        # directories, and pyarrow's create_dir writes one EMPTY
        # marker object per level — pure request waste (measured on a
        # real endpoint: 4 of the 5 requests of a manifest
        # registration were mkdirs ceremony; tests/test_s3_requests.py
        # pins the count) that also pollutes listings. Writers under a prefix need no
        # parent; a listing of a nonexistent prefix is already [].
        # Dir-ful backends (HDFS-like, atomic_dir_rename) keep the
        # real recursive create.
        if self.atomic_dir_rename:
            self._fs.create_dir(self._p(path), recursive=True)

    def read_text(self, path: str) -> str:
        # s3 + boto3: ONE GET — the pyarrow input stream costs a HEAD
        # (open: size/existence) plus a GET per read, doubling every
        # manifest read's round-trips (measured, tests/test_s3_requests.py)
        client = self._boto_metadata_client()
        if client is not None:
            bucket, key = self._bucket_key(path)
            try:
                obj = client.get_object(Bucket=bucket, Key=key)
            except Exception as e:
                if self._error_code(e) in ("NoSuchKey", "404",
                                           "NoSuchBucket"):
                    raise FileNotFoundError(path) from e
                raise
            return obj["Body"].read().decode("utf-8")
        with self._fs.open_input_stream(self._p(path)) as f:
            return f.read().decode()

    def put_text(self, path: str, text: str) -> None:
        # object stores: the PUT (close of the output stream) is atomic
        # per object. HDFS: create is not atomic — write a side file and
        # rename, same as LocalMetaFS.
        #
        # s3 + boto3: ONE single-part put_object instead of pyarrow's
        # ObjectOutputStream, which issues a MULTIPART upload even for
        # tiny objects. Two reasons (round 12, surfaced by the moto
        # endpoint smoke): (1) metadata cost — every manifest/snapshot/
        # lease put is 1 round-trip instead of 3 (create/upload-part/
        # complete), which at 10k-bucket publish scale is the dominant
        # metadata bill; (2) CORRECTNESS of the lease steal — S3's
        # ETag equals the content MD5 only for single-part non-KMS
        # PUTs, and delete_file_if_unchanged keys its If-Match on that
        # MD5, so an expired lease REWRITTEN by renew() through the
        # multipart path would never CAD-match and could never be
        # stolen (a stuck table). The boto3 path keeps every metadata
        # object single-part; the pyarrow stream remains the fallback
        # when boto3 is absent (where the lease already falls back to
        # put-settle-verify and never CAD-deletes).
        client = self._boto_metadata_client()
        if client is not None:
            bucket, key = self._bucket_key(path)
            client.put_object(Bucket=bucket, Key=key,
                              Body=text.encode("utf-8"))
            return

        def _write(target: str) -> None:
            try:
                with self._fs.open_output_stream(target) as f:
                    f.write(text.encode())
            except FileNotFoundError:
                # dir-ful backends (local, HDFS) need the parent to
                # exist; object stores never hit this branch
                self._fs.create_dir(target.rsplit("/", 1)[0],
                                    recursive=True)
                with self._fs.open_output_stream(target) as f:
                    f.write(text.encode())

        if self.atomic_dir_rename:
            tmp = f"{self._p(path)}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
            _write(tmp)
            try:
                self._fs.move(tmp, self._p(path))
            except OSError:
                # HDFS rename refuses an existing destination (unlike
                # POSIX rename): delete-then-move, the same brief
                # not-present window Hadoop's own rename(OVERWRITE)
                # has. Re-publishing a manifest / rewriting a snapshot
                # hits this path.
                self.delete_file(path)
                self._fs.move(tmp, self._p(path))
        else:
            _write(self._p(path))

    def delete_file(self, path: str) -> None:
        # s3 + boto3: one DELETE — pyarrow's delete_file additionally
        # HEADs the object first and RE-CREATES an empty parent
        # directory marker when it removed the prefix's last object
        # (measured: 1 request vs 3, tests/test_s3_requests.py). S3
        # DeleteObject is idempotent (204 for missing keys), matching
        # this method's swallow-missing contract.
        client = self._boto_metadata_client()
        if client is not None:
            bucket, key = self._bucket_key(path)
            client.delete_object(Bucket=bucket, Key=key)
            return
        try:
            self._fs.delete_file(self._p(path))
        except FileNotFoundError:
            pass

    def delete_dir(self, path: str) -> None:
        try:
            self._fs.delete_dir(self._p(path))
        except FileNotFoundError:
            pass

    def rename_dir(self, src: str, dst: str) -> None:
        if not self.atomic_dir_rename:
            raise NotImplementedError(
                f"{self._scheme} has no atomic directory rename"
            )
        self._fs.move(self._p(src), self._p(dst))

    def copy_tree(self, src: str, dst: str) -> None:
        from pyarrow import fs as pafs

        sp, dp = self._p(src), self._p(dst)
        # object stores: skip the create_dir ceremony entirely — same
        # rationale as mkdirs above (empty marker objects per level,
        # measured: a 3-file promotion paid 16 requests, 12 of them
        # directory markers + their listing checks; with the gate it is
        # 1 listing + 1 CopyObject per file, size-independent below the
        # 5 GB UploadPartCopy threshold — BASELINE.md "Round 13 —
        # data-plane request counts on the real endpoint")
        if self.atomic_dir_rename:
            self._fs.create_dir(dp, recursive=True)
        sel = pafs.FileSelector(sp, recursive=True)
        for info in self._fs.get_file_info(sel):
            if info.type != pafs.FileType.File:
                continue
            rel = info.path[len(sp):].lstrip("/")
            tgt = f"{dp}/{rel}"
            if self.atomic_dir_rename:
                self._fs.create_dir(tgt.rsplit("/", 1)[0], recursive=True)
            # server-side copy where the backend supports it. Dir-ful
            # backends masquerading as object stores (the local arrow
            # sim) still need the parent — create it only when the copy
            # says so, same fallback shape as put_text's _write
            try:
                self._fs.copy_file(info.path, tgt)
            except (FileNotFoundError, OSError):
                self._fs.create_dir(tgt.rsplit("/", 1)[0], recursive=True)
                self._fs.copy_file(info.path, tgt)


class DelayFS(MetaFS):
    """Latency-injecting DECORATOR around another MetaFS: every metadata
    ROUND-TRIP sleeps ``delay_s`` first (pure path helpers are free),
    turning the object-store design claims into local measurements
    (VERDICT r7 item 1) — ``time.sleep`` releases the GIL exactly like
    real network I/O, so the bulk-delete thread pools overlap injected
    RTTs the way they would overlap S3 round-trips.

    ``op_counts`` tallies round-trips per op name, so a probe can assert
    both the TIME and the REQUEST COUNT of a code path (e.g. planning at
    10k manifests = 10k GETs raw vs 1 GET after compact_manifests).

    Charged as one RTT: ls / exists / isdir / mtime / list_files /
    read_text / put_text / put_text_if_absent / delete_file /
    delete_dir / rename_dir / copy_tree. Charged as ZERO: mkdirs (real
    object stores have no directories — creating a prefix is no
    request) and the pure path helpers.
    """

    def __init__(self, inner: MetaFS, delay_s: float = 0.02):
        import threading

        self.inner = inner
        self.delay_s = delay_s
        self.op_counts: dict[str, int] = {}
        self._lock = threading.Lock()
        self.atomic_dir_rename = inner.atomic_dir_rename
        self.supports_put_if_absent = inner.supports_put_if_absent
        self.supports_conditional_delete = inner.supports_conditional_delete
        # a latency-bound backend wants wide overlap, like ArrowMetaFS
        self.bulk_parallelism = 16

    def reset_counts(self) -> None:
        with self._lock:
            self.op_counts = {}

    def _rt(self, op: str) -> None:
        with self._lock:
            self.op_counts[op] = self.op_counts.get(op, 0) + 1
        if self.delay_s:
            time.sleep(self.delay_s)

    # pure path helpers: no round-trip
    def join(self, *parts):
        return self.inner.join(*parts)

    def parent(self, path):
        return self.inner.parent(path)

    def name(self, path):
        return self.inner.name(path)

    def spark_url(self, path):
        return self.inner.spark_url(path)

    def mkdirs(self, path):
        return self.inner.mkdirs(path)

    # round-trips
    def ls(self, path):
        self._rt("ls")
        return self.inner.ls(path)

    def exists(self, path):
        self._rt("exists")
        return self.inner.exists(path)

    def isdir(self, path):
        self._rt("isdir")
        return self.inner.isdir(path)

    def mtime(self, path):
        self._rt("mtime")
        return self.inner.mtime(path)

    def list_files(self, path, suffix="", recursive=False):
        self._rt("list_files")
        return self.inner.list_files(path, suffix, recursive)

    def newest_mtime(self, path):
        # one LIST round-trip on real stores (the listing carries
        # mtimes) — charged as one, matching ArrowMetaFS
        self._rt("newest_mtime")
        return self.inner.newest_mtime(path)

    def read_text(self, path):
        self._rt("read_text")
        return self.inner.read_text(path)

    def put_text(self, path, text):
        self._rt("put_text")
        return self.inner.put_text(path, text)

    def put_text_if_absent(self, path, text):
        self._rt("put_text_if_absent")
        return self.inner.put_text_if_absent(path, text)

    def delete_file_if_unchanged(self, path, expected_text):
        self._rt("delete_file_if_unchanged")
        return self.inner.delete_file_if_unchanged(path, expected_text)

    def delete_file(self, path):
        self._rt("delete_file")
        return self.inner.delete_file(path)

    def delete_dir(self, path):
        self._rt("delete_dir")
        return self.inner.delete_dir(path)

    def rename_dir(self, src, dst):
        self._rt("rename_dir")
        return self.inner.rename_dir(src, dst)

    def copy_tree(self, src, dst):
        self._rt("copy_tree")
        return self.inner.copy_tree(src, dst)


class _DelaySimInner(ObjectStoreSimFS):
    SCHEME = "delaysim://"


class DelaySimFS(DelayFS):
    """``delaysim://`` roots: the no-rename object-store simulation PLUS
    an injected per-round-trip latency (``SPARK_GRAFT_DELAY_MS`` env,
    default 20 — an S3 same-region GET/DELETE RTT). The probe scheme for
    measuring metadata-plane behavior at object-store latencies without
    a real endpoint."""

    def __init__(self):
        super().__init__(
            _DelaySimInner(),
            float(os.environ.get("SPARK_GRAFT_DELAY_MS", "20")) / 1000.0,
        )


_REGISTRY: dict[str, type | None] = {}
_CACHE: dict[str, MetaFS] = {}


def register_fs_scheme(scheme: str, cls) -> None:
    """Plug in a MetaFS class for ``scheme://`` roots (tests, custom
    backends)."""
    _REGISTRY[scheme] = cls


def get_fs(path: str) -> MetaFS:
    """MetaFS for a table root / metadata path, by scheme."""
    if "://" not in path:
        return _local
    scheme = path.split("://", 1)[0]
    if scheme == "file":
        return _local
    if scheme == "objectsim":
        return _objectsim
    if scheme in _REGISTRY:
        cls = _REGISTRY[scheme]
        key = scheme
        if key not in _CACHE:
            _CACHE[key] = cls()
        return _CACHE[key]
    # real remote roots: one ArrowMetaFS per scheme+authority
    key = path.split("://", 1)[0] + "://" + path.split("://", 1)[1].split("/", 1)[0]
    if key not in _CACHE:
        _CACHE[key] = ArrowMetaFS(path)
    return _CACHE[key]


_local = LocalMetaFS()
_objectsim = ObjectStoreSimFS()
# probe scheme: object-store semantics + injected RTT (see DelaySimFS)
_REGISTRY["delaysim"] = DelaySimFS
# object-store semantics + conditional writes (S3 If-None-Match/If-Match)
_REGISTRY["objectcas"] = ObjectStoreCasFS


def configure_object_store(
    root: str,
    spark=None,
    *,
    access_key: str | None = None,
    secret_key: str | None = None,
    session_token: str | None = None,
    endpoint: str | None = None,
    region: str | None = None,
    anonymous: bool = False,
) -> dict[str, str]:
    """Wire ONE set of object-store credentials into BOTH halves of the
    engine's I/O for a table root like ``s3://bucket/path``:

    * the METADATA side (this module): constructs a pyarrow filesystem
      with the explicit options, wraps it in :class:`ArrowMetaFS`, and
      primes the ``get_fs`` cache for the root's scheme+bucket — every
      manifest/cache/states call under that bucket uses it from then on
      (instead of ``from_uri``'s env-resolved credentials);

    * the DATA side (Spark): returns the matching Hadoop s3a conf as a
      dict, and — when a live ``SparkSession`` is passed — sets it on
      the running context's hadoopConfiguration so subsequent
      ``spark.read.parquet("s3a://…")`` calls pick it up. At
      session-build time, pass the returned dict as
      ``.config("spark.hadoop." + k, v)`` entries instead.

    Credentials resolved from the environment / instance metadata need
    no call at all (both pyarrow and s3a resolve the standard chain);
    this function exists for the explicit-keys / custom-endpoint
    (MinIO, on-prem) case where the two stacks would otherwise each
    need their own plumbing. Pass ``region`` explicitly to avoid a
    network round-trip resolving the bucket location at construct time.
    """
    if "://" not in root:
        raise ValueError(f"not an object-store root: {root!r}")
    scheme, rest = root.split("://", 1)
    bucket = rest.split("/", 1)[0]
    from pyarrow import fs as pafs

    if scheme == "s3":
        opts: dict = {"anonymous": True} if anonymous else {}
        if access_key:
            opts.update(access_key=access_key, secret_key=secret_key or "")
        if session_token:
            opts["session_token"] = session_token
        if endpoint:
            opts["endpoint_override"] = endpoint
        if region:
            opts["region"] = region
        backend = pafs.S3FileSystem(**opts)
    elif scheme == "gs":
        backend = pafs.GcsFileSystem(anonymous=anonymous)
    else:
        raise ValueError(
            f"configure_object_store supports s3:// and gs:// roots, got "
            f"{scheme!r} — hdfs/abfs resolve via from_uri + cluster config"
        )
    boto_opts: dict | None = None
    if scheme == "s3" and not anonymous:
        # mirror the explicit options into the boto3 client backing the
        # conditional-write lease calls (anonymous access can't sign
        # conditional requests — the lease then falls back to
        # put-settle-verify)
        boto_opts = {}
        if access_key:
            boto_opts.update(aws_access_key_id=access_key,
                             aws_secret_access_key=secret_key or "")
        if session_token:
            boto_opts["aws_session_token"] = session_token
        if endpoint:
            boto_opts["endpoint_url"] = endpoint
        if region:
            boto_opts["region_name"] = region
    _CACHE[f"{scheme}://{bucket}"] = ArrowMetaFS.from_filesystem(
        backend, scheme, bucket, netloc_in_path=True,
        atomic_dir_rename=False, boto_opts=boto_opts,
    )

    conf: dict[str, str] = {}
    if scheme == "s3":
        if anonymous:
            conf["fs.s3a.aws.credentials.provider"] = (
                "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
            )
        if access_key:
            conf["fs.s3a.access.key"] = access_key
            conf["fs.s3a.secret.key"] = secret_key or ""
        if session_token:
            conf["fs.s3a.session.token"] = session_token
            conf["fs.s3a.aws.credentials.provider"] = (
                "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider"
            )
        if endpoint:
            conf["fs.s3a.endpoint"] = endpoint
            # custom endpoints (MinIO, on-prem) are path-style
            conf["fs.s3a.path.style.access"] = "true"
        if region:
            conf["fs.s3a.endpoint.region"] = region
    if spark is not None:
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        for k, v in conf.items():
            hconf.set(k, v)
    return conf


# ------------------------------------------------- directory publish protocol


def publish_parquet_dir(fs: MetaFS, write_fn, dest: str) -> str:
    """Publish a Spark-written parquet directory at logical path ``dest``
    such that a reader either resolves a COMPLETE directory or nothing.

    ``write_fn(spark_url)`` must leave a complete parquet dir at the
    given physical location (e.g. ``df.write.parquet``). Returns the
    physical path (in table-root namespace) the data landed at.

    Rename backends: tmp dir + atomic rename onto ``dest`` (a concurrent
    filler that already published wins; our tmp is discarded — both
    results are identical by construction, same semantics the local
    cache/materialize publishes had before the seam).

    No-rename backends: pointer protocol (module docstring)."""
    if fs.atomic_dir_rename:
        tmp = f"{dest}.tmp-{os.getpid()}"
        write_fn(fs.spark_url(tmp))
        if fs.isdir(dest):
            fs.delete_dir(tmp)
        else:
            try:
                fs.rename_dir(tmp, dest)
            except OSError:
                fs.delete_dir(tmp)
                if not fs.isdir(dest):
                    raise
        return dest
    token = uuid.uuid4().hex[:12]
    data = f"{dest}.{token}"
    write_fn(fs.spark_url(data))
    fs.put_text(dest + PTR_SUFFIX,
                json.dumps({"dir": fs.name(data)}))
    return data


def resolve_parquet_dir(fs: MetaFS, dest: str) -> str | None:
    """Physical path of the committed directory published at logical
    ``dest``, or None if nothing committed. The returned path is in
    table-root namespace — pass through ``fs.spark_url`` for the JVM."""
    if fs.atomic_dir_rename:
        return dest if fs.isdir(dest) else None
    ptr = dest + PTR_SUFFIX
    if not fs.exists(ptr):
        return None
    name = json.loads(fs.read_text(ptr))["dir"]
    return fs.join(fs.parent(dest), name)


def remove_published_dir(fs: MetaFS, dest: str) -> None:
    """Unpublish + reclaim a directory published at logical ``dest``
    (pointer first, so readers stop resolving before bytes vanish)."""
    if fs.atomic_dir_rename:
        fs.delete_dir(dest)
        return
    ptr = dest + PTR_SUFFIX
    target = resolve_parquet_dir(fs, dest)
    fs.delete_file(ptr)
    if target:
        fs.delete_dir(target)


def remove_published_dirs(fs: MetaFS, dests) -> None:
    """Bulk :func:`remove_published_dir`: unpublish every pointer FIRST
    (readers stop resolving before any bytes vanish), then reclaim the
    data directories with overlapped round-trips. The vacuum sweeps use
    this so a 10k-entry reclamation is pool-parallel, not 10k × RTT."""
    dests = list(dests)
    if fs.atomic_dir_rename:
        fs.delete_dirs(dests)
        return
    targets = []
    for d in dests:
        t = resolve_parquet_dir(fs, d)
        if t:
            targets.append(t)
    fs.delete_files(d + PTR_SUFFIX for d in dests)
    fs.delete_dirs(targets)


def published_entries(fs: MetaFS, parent: str,
                      suffix: str = "") -> dict[str, str]:
    """Committed directory publishes directly under ``parent``:
    {logical name: physical path}. On rename backends these are plain
    directories (tmp dirs excluded); on no-rename backends, pointer
    files resolved to their token dirs."""
    out: dict[str, str] = {}
    names = fs.ls(parent)
    if fs.atomic_dir_rename:
        for n in names:
            if ".tmp-" in n or not n.endswith(suffix):
                continue
            p = fs.join(parent, n)
            if fs.isdir(p):
                out[n] = p
        return out
    for n in names:
        if not n.endswith(PTR_SUFFIX):
            continue
        logical = n[: -len(PTR_SUFFIX)]
        if not logical.endswith(suffix):
            continue
        resolved = resolve_parquet_dir(fs, fs.join(parent, logical))
        if resolved:
            out[logical] = resolved
    return out
