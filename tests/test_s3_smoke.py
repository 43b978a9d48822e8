"""Real-object-store smoke suite (VERDICT r7 item 8, stretch).

Runs the metadata-plane lifecycle against a REAL bucket when
``S3_TEST_ROOT`` is set (e.g. ``s3://my-bucket/spark-graft-smoke`` —
any scheme pyarrow's ``FileSystem.from_uri`` resolves works: s3, gs,
hdfs). Skips cleanly otherwise, so the day a bucket is available the
proof is exactly::

    S3_TEST_ROOT=s3://bucket/prefix python -m pytest tests/test_s3_smoke.py

Scope is the METADATA plane on purpose: manifest register/list,
snapshot compaction, tags, lease, vacuum, and the no-rename pointer
protocol — everything the fs seam (sources/fs.py, ArrowMetaFS) claims
about real stores. The DATA plane (Spark writing parquet to s3a://)
additionally needs hadoop-aws jars on the Spark classpath and is
exercised by the objectsim:// lifecycle suite locally; credentials for
BOTH halves wire through ``configure_object_store``.

Each run works under a fresh uuid subprefix and deletes it afterward,
so repeated smokes don't accumulate objects.

Round 12: when ``S3_TEST_ROOT`` is NOT set but ``moto`` is importable,
the suite runs against an in-process ``ThreadedMotoServer`` — a real
HTTP S3 endpoint (moto's server mode implements the S3 REST API
including the 2024 conditional writes: ``If-None-Match: *`` PUT →412,
``If-Match`` DELETE →412, verified below), reached through the SAME
production stack a MinIO/on-prem deployment uses: ``pyarrow``
S3FileSystem + boto3 via ``configure_object_store(endpoint=…)``. Every
byte crosses a real socket and real S3 XML — only the storage behind
the endpoint is simulated, so this closes the seam's "never touched a
real object-store protocol" gap while ``S3_TEST_ROOT`` remains the
knob for smoking a genuine bucket.
"""

from __future__ import annotations

import importlib.util
import os
import uuid

import pytest

S3_TEST_ROOT = os.environ.get("S3_TEST_ROOT", "").rstrip("/")
_HAS_MOTO = (importlib.util.find_spec("moto") is not None
             and importlib.util.find_spec("boto3") is not None)

pytestmark = pytest.mark.skipif(
    not S3_TEST_ROOT and not _HAS_MOTO,
    reason="S3_TEST_ROOT not set and moto unavailable — real-object-"
           "store smoke suite (set S3_TEST_ROOT=s3://bucket/prefix "
           "to run against a genuine bucket)",
)


@pytest.fixture(scope="module")
def smoke_base():
    """The suite's base root: ``S3_TEST_ROOT`` when provided, else a
    bucket on an in-process moto S3 server wired through
    ``configure_object_store`` exactly as a MinIO deployment would be."""
    if S3_TEST_ROOT:
        yield S3_TEST_ROOT
        return
    import logging

    import boto3
    from moto.server import ThreadedMotoServer

    from druid_hadoop_utils_spark.sources.fs import (
        _CACHE,
        configure_object_store,
    )

    logging.getLogger("werkzeug").setLevel(logging.ERROR)
    server = ThreadedMotoServer(ip_address="127.0.0.1", port=0,
                                verbose=False)
    server.start()
    host, port = server.get_host_and_port()
    endpoint = f"http://{host}:{port}"
    bucket = "spark-graft-smoke"
    boto3.client(
        "s3", endpoint_url=endpoint, region_name="us-east-1",
        aws_access_key_id="testing", aws_secret_access_key="testing",
    ).create_bucket(Bucket=bucket)
    configure_object_store(
        f"s3://{bucket}", endpoint=endpoint, region="us-east-1",
        access_key="testing", secret_key="testing",
    )
    try:
        yield f"s3://{bucket}/ci"
    finally:
        _CACHE.pop(f"s3://{bucket}", None)
        server.stop()


@pytest.fixture()
def root(smoke_base):
    from druid_hadoop_utils_spark.sources.fs import get_fs

    r = f"{smoke_base}/smoke-{uuid.uuid4().hex[:12]}"
    yield r
    get_fs(r).delete_dir(r)


def test_metafs_contract(root):
    from druid_hadoop_utils_spark.sources.fs import get_fs

    fs = get_fs(root)
    p = fs.join(root, "a", "b.json")
    fs.mkdirs(fs.parent(p))
    fs.put_text(p, '{"k": 1}')
    assert fs.exists(p)
    assert fs.read_text(p) == '{"k": 1}'
    assert "b.json" in fs.ls(fs.join(root, "a"))
    files = fs.list_files(fs.join(root, "a"), suffix=".json")
    assert any(name.endswith("b.json") for name, _sz in files)
    fs.delete_file(p)
    assert not fs.exists(p)
    # bulk deletes overlap round-trips — correctness check here,
    # latency characterization: BASELINE.md "Injected-latency probe (round 8)"
    many = [fs.join(root, "bulk", f"f{i}.json") for i in range(32)]
    for q in many:
        fs.put_text(q, "x")
    fs.delete_files(many)
    assert fs.ls(fs.join(root, "bulk")) == []


def test_manifest_lifecycle_and_snapshot(root):
    from datetime import datetime, timedelta, timezone

    from druid_hadoop_utils_spark.intervals import Interval
    from druid_hadoop_utils_spark.sources.fs import get_fs
    from druid_hadoop_utils_spark.sources.maintenance import vacuum
    from druid_hadoop_utils_spark.sources.segments import (
        SegmentManifest,
        compact_manifests,
        create_tag,
        list_manifests,
        register_manifest,
    )

    fs = get_fs(root)
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    for i in range(5):
        start = t0 + timedelta(days=i)
        iv = Interval(start, start + timedelta(days=1))
        for v in ("v1", "v2"):
            p = fs.join(root, "ds", f"d{i}_{v}")
            fs.put_text(fs.join(p, "part-0.parquet"), "x")
            register_manifest(root, SegmentManifest("ds", iv, v, 0, p))
    assert len(list_manifests(root, "ds")) == 10
    assert compact_manifests(root, "ds") is not None
    assert len(list_manifests(root, "ds")) == 10  # one snapshot GET now
    create_tag(root, "ds", "pin")
    removed = vacuum(root, "ds")  # tag floors retention; v1 still dies
    assert len(removed) == 5
    vis = [m for m in list_manifests(root, "ds") if not m.tombstone]
    assert {m.version for m in vis} == {"v2"}


def test_lease_on_real_store(root):
    from druid_hadoop_utils_spark.sources.lease import (
        MaintenanceLockHeld,
        maintenance_lease,
        read_lease,
    )

    with maintenance_lease(root, "ds", "vacuum"):
        assert read_lease(root, "ds")["op"] == "vacuum"
        with pytest.raises(MaintenanceLockHeld):
            with maintenance_lease(root, "ds", "compact_manifests"):
                pass
    assert read_lease(root, "ds") is None


def test_pointer_protocol_dir_publish(root):
    """publish_parquet_dir on a no-rename backend: unique token dir +
    tiny pointer object; the reader resolves a COMPLETE dir or None."""
    from druid_hadoop_utils_spark.sources.fs import (
        get_fs,
        publish_parquet_dir,
        resolve_parquet_dir,
    )

    fs = get_fs(root)
    dest = fs.join(root, "mat", "states")
    assert resolve_parquet_dir(fs, dest) is None

    def write_fn(url):
        # stand-in for df.write.parquet(url): the protocol only needs a
        # complete directory to appear at the given physical location
        # (the seam's _p() accepts its own spark_url output back)
        fs.put_text(fs.join(url, "part-0.parquet"), "rows")

    got = publish_parquet_dir(fs, write_fn, dest)
    resolved = resolve_parquet_dir(fs, dest)
    assert resolved is not None
    assert fs.ls(resolved) == ["part-0.parquet"]
    assert got


def test_conditional_writes_real_bucket(root):
    """The round-11 conditional-write path against a REAL store: s3
    roots with boto3 present get create-if-absent + compare-and-delete
    (the lease's true-mutex branch); other schemes skip."""
    from druid_hadoop_utils_spark.sources.fs import get_fs

    fs = get_fs(root)
    if not (fs.supports_put_if_absent and fs.supports_conditional_delete):
        pytest.skip("backend has no conditional writes (non-s3 or no boto3)")
    p = fs.join(root, "_segments", "_commit.json")
    fs.mkdirs(fs.parent(p))
    assert fs.put_text_if_absent(p, "owner-a") is True
    assert fs.put_text_if_absent(p, "owner-b") is False  # 412
    assert fs.read_text(p) == "owner-a"
    assert fs.delete_file_if_unchanged(p, "owner-b") is False  # changed
    assert fs.delete_file_if_unchanged(p, "owner-a") is True
    assert fs.delete_file_if_unchanged(p, "owner-a") is False  # gone


def test_lease_steal_is_cas_on_real_bucket(root):
    """On a conditional-write store the expired-steal path goes through
    the CAS branch: stealing an expired lease succeeds, and a stale
    stealer holding the OLD bytes is refused."""
    import json as _json

    from druid_hadoop_utils_spark.sources.fs import get_fs
    from druid_hadoop_utils_spark.sources.lease import (
        _lease_obj,
        _lease_path,
        maintenance_lease,
        read_lease,
    )

    fs = get_fs(root)
    if not (fs.supports_put_if_absent and fs.supports_conditional_delete):
        pytest.skip("backend has no conditional writes (non-s3 or no boto3)")
    path = _lease_path(fs, root, "ds")
    fs.mkdirs(fs.parent(path))
    expired_raw = _json.dumps(_lease_obj("dead", "vacuum", -10.0), indent=2)
    fs.put_text(path, expired_raw)
    with maintenance_lease(root, "ds", "restore_to"):
        assert fs.delete_file_if_unchanged(path, expired_raw) is False
        live = read_lease(root, "ds")
        assert live is not None and live["op"] == "restore_to"
    assert read_lease(root, "ds") is None


def test_steal_after_renew_on_real_endpoint(root):
    """The round-12 single-part put_text fix, pinned where it matters:
    renew() REWRITES the lease via put_text, and a later expired-steal
    CAD-deletes it keyed on If-Match == content MD5 — which S3 only
    guarantees for single-part PUTs. With pyarrow's multipart stream
    the renewed lease's ETag never matches and the table is stuck
    unstealable; with the boto3 single-part path the steal succeeds."""
    from druid_hadoop_utils_spark.sources.fs import get_fs
    from druid_hadoop_utils_spark.sources.lease import (
        maintenance_lease,
        read_lease,
    )

    fs = get_fs(root)
    if not (fs.supports_put_if_absent and fs.supports_conditional_delete):
        pytest.skip("backend has no conditional writes (non-s3 or no boto3)")
    import time as _time

    with maintenance_lease(root, "ds", "vacuum", ttl_s=0.05) as h:
        h.renew()          # rewrites the lease object (short TTL again)
        _time.sleep(0.2)   # let the renewed lease expire
        # the steal goes through delete_file_if_unchanged on the bytes
        # renew() wrote: only matches if that PUT was single-part
        with maintenance_lease(root, "ds", "restore_to"):
            assert read_lease(root, "ds")["op"] == "restore_to"
    assert read_lease(root, "ds") is None


def test_staged_orphan_age_gate_on_real_virtual_dirs(root):
    """The round-12 prefix_age_s fix on a REAL object-store protocol:
    directory prefixes here genuinely carry no mtime (pyarrow reports
    none), so the age gate must fall back to file mtimes — a FRESH
    unreferenced version dir survives the default gate instead of being
    reclaimed as 'infinitely old' (the pre-fix data-loss scenario)."""
    from datetime import datetime, timedelta, timezone

    from druid_hadoop_utils_spark.intervals import Interval
    from druid_hadoop_utils_spark.sources.fs import get_fs
    from druid_hadoop_utils_spark.sources.maintenance import vacuum
    from druid_hadoop_utils_spark.sources.segments import (
        SegmentManifest,
        list_manifests,
        register_manifest,
    )

    fs = get_fs(root)
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    iv = Interval(t0, t0 + timedelta(days=1))
    live = fs.join(root, "ds", "2024-01-01", "v=v1", "shard-0")
    fs.put_text(fs.join(live, "part-0.parquet"), "x")
    register_manifest(root, SegmentManifest("ds", iv, "v1", 0, live))

    # a staged-but-never-announced version dir (in-flight or crashed
    # writer) with a FRESH file under it
    staged = fs.join(root, "ds", "2024-01-01", "v=merge-x-v9", "shard-0")
    fs.put_text(fs.join(staged, "part-0.parquet"), "y")

    # the directory prefix really has no trustworthy mtime here
    assert fs.mtime(fs.parent(staged)) <= 0.0

    removed = vacuum(root, "ds")  # default 24 h gate
    assert fs.exists(fs.join(staged, "part-0.parquet")), \
        "fresh staged data reclaimed on a virtual-dir store"
    assert not any("merge-x-v9" in r for r in removed)

    removed = vacuum(root, "ds", reclaim_staged_after_s=0.0)
    assert any("merge-x-v9" in r for r in removed)
    assert not fs.exists(fs.join(staged, "part-0.parquet"))
    assert len(list_manifests(root, "ds")) == 1
