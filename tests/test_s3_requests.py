"""Real-protocol metadata request-count pins (round 12).

`DelayFS` counts METAFS-LEVEL round-trips, but the real S3 protocol can
multiply them: pyarrow's output stream multipart-uploads every object
(3 requests per tiny manifest), its input stream HEADs before GETting
(2 per read), its delete_file HEADs then re-creates a parent directory
marker (3 per delete), and pyarrow create_dir writes one empty marker
object per level. Round 12 routed `put_text`/`read_text`/`delete_file`
through single boto3 calls and made `mkdirs` a no-op on no-rename
backends, cutting a warm manifest registration from 5 HTTP requests to
ONE. These tests count ACTUAL requests served by an in-process moto
endpoint so a regression anywhere in the stack (engine code, pyarrow
behavior, boto3 retries) fails loudly with the request log attached.

Numbers also recorded in BASELINE.md ("Real-S3-protocol request counts
(round 12)").
"""

from __future__ import annotations

import importlib.util
import logging
import uuid
from datetime import datetime, timezone

import pytest

_HAS_MOTO = (importlib.util.find_spec("moto") is not None
             and importlib.util.find_spec("boto3") is not None)

pytestmark = pytest.mark.skipif(
    not _HAS_MOTO, reason="moto/boto3 unavailable")


class _Counter(logging.Handler):
    def __init__(self):
        super().__init__()
        self.lines: list[str] = []

    def emit(self, record):
        self.lines.append(record.getMessage())

    def take(self) -> list[str]:
        out, self.lines = self.lines, []
        return out


@pytest.fixture(scope="module")
def endpoint():
    import boto3
    from moto.server import ThreadedMotoServer

    from druid_hadoop_utils_spark.sources.fs import (
        _CACHE,
        configure_object_store,
    )

    wlog = logging.getLogger("werkzeug")
    wlog.setLevel(logging.INFO)
    counter = _Counter()
    wlog.addHandler(counter)
    wlog.propagate = False
    server = ThreadedMotoServer(ip_address="127.0.0.1", port=0,
                                verbose=False)
    server.start()
    host, port = server.get_host_and_port()
    ep = f"http://{host}:{port}"
    bucket = "request-count-bucket"
    boto3.client(
        "s3", endpoint_url=ep, region_name="us-east-1",
        aws_access_key_id="testing", aws_secret_access_key="testing",
    ).create_bucket(Bucket=bucket)
    configure_object_store(
        f"s3://{bucket}", endpoint=ep, region="us-east-1",
        access_key="testing", secret_key="testing",
    )
    try:
        yield f"s3://{bucket}", counter
    finally:
        _CACHE.pop(f"s3://{bucket}", None)
        wlog.removeHandler(counter)
        server.stop()


@pytest.fixture()
def root(endpoint):
    base, counter = endpoint
    return f"{base}/t-{uuid.uuid4().hex[:10]}", counter


def test_metadata_primitives_one_request_each(root):
    from druid_hadoop_utils_spark.sources.fs import get_fs

    r, counter = root
    fs = get_fs(r)
    p = fs.join(r, "a", "b", "m.json")
    counter.take()
    fs.mkdirs(fs.parent(p))
    assert counter.take() == [], "mkdirs issued requests on an object store"
    fs.put_text(p, '{"k": 1}')
    assert len(counter.take()) == 1, "put_text must be ONE single-part PUT"
    assert fs.read_text(p) == '{"k": 1}'
    assert len(counter.take()) == 1, "read_text must be ONE GET"
    fs.delete_file(p)
    assert len(counter.take()) == 1, "delete_file must be ONE DELETE"
    # idempotent-missing contract preserved through the boto3 path
    fs.delete_file(p)
    counter.take()


def test_warm_manifest_registration_is_one_request(root):
    from druid_hadoop_utils_spark.intervals import Interval
    from druid_hadoop_utils_spark.sources.fs import get_fs
    from druid_hadoop_utils_spark.sources.segments import (
        SegmentManifest,
        register_manifest,
    )

    r, counter = root
    fs = get_fs(r)
    iv = Interval(datetime(2024, 1, 1, tzinfo=timezone.utc),
                  datetime(2024, 1, 2, tzinfo=timezone.utc))
    # first registration pays the per-table stamp-clamp listing
    register_manifest(r, SegmentManifest(
        "ds", iv, "v1", 0, fs.join(r, "ds", "d0")))
    counter.take()
    register_manifest(r, SegmentManifest(
        "ds", iv, "v2", 0, fs.join(r, "ds", "d1")))
    got = counter.take()
    assert len(got) == 1, f"warm registration took {len(got)}: {got}"


def test_lease_cycle_request_bound(root):
    from druid_hadoop_utils_spark.sources.lease import maintenance_lease

    r, counter = root
    counter.take()
    with maintenance_lease(r, "ds", "probe"):
        pass
    got = counter.take()
    # probe-absent GET + conditional PUT + owner-verify GET + DELETE
    assert len(got) <= 5, f"lease acquire+release took {len(got)}: {got}"


def test_copy_tree_promotion_request_bound(root):
    """Data-plane promotion (round 13): copy_tree on an object store is
    ONE listing plus ONE server-side CopyObject per file — no directory
    marker ceremony (was 16 requests for 3 files; now 4), and no byte
    re-streaming regardless of object size (CopyObject is server-side
    below the 5 GB UploadPartCopy threshold — the 1 KB/8 MB/64 MB sweep
    is in BASELINE.md, "Round 13 — data-plane request counts")."""
    from druid_hadoop_utils_spark.sources.fs import get_fs

    r, counter = root
    fs = get_fs(r)
    for i in range(3):
        fs.put_text(fs.join(r, "staged", f"f{i}.parquet"), "x" * 4096)
    counter.take()
    fs.copy_tree(fs.join(r, "staged"), fs.join(r, "promoted"))
    got = counter.take()
    assert len(got) <= 4, f"copy_tree(3 files) took {len(got)}: {got}"
    # the copies are real
    assert fs.read_text(fs.join(r, "promoted", "f1.parquet")) == "x" * 4096
