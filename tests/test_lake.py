"""LakeCatalog invariants (S08) on local fs — the behaviors the reference's
live-service tests meant to check (tests.py:12-37: create → list → rename
→ delete visibility), minus its bugs (stale listing memo, read-before-
rename)."""

from __future__ import annotations

import tempfile
import time
import uuid

import pytest

from pydatalake_gen2_spark.sources.lake import LakeCatalog


@pytest.fixture()
def cat(spark):
    root = tempfile.mkdtemp(prefix="lake_root_")
    return LakeCatalog(spark, f"file://{root}")


def test_filesystem_crud(cat):
    assert cat.create_filesystem("fs1")
    assert cat.create_filesystem("fs2")
    assert cat.list_filesystems() == ["fs1", "fs2"]
    assert cat.list_filesystems(prefix="fs1") == ["fs1"]
    assert cat.delete_filesystem("fs2")
    assert cat.list_filesystems() == ["fs1"]


def test_path_crud_and_rename(cat):
    cat.create_filesystem("fs")
    assert cat.create_path("fs/dir1", resource="directory")
    assert cat.create_path("fs/dir1/a.txt")
    assert cat.exists("fs/dir1/a.txt")
    # fresh listing immediately sees the new path (no stale memo)
    names = [p.name for p in cat.list_paths("fs/dir1")]
    assert names == ["a.txt"]
    # atomic rename, no read-before-write
    assert cat.rename_path("fs/dir1/a.txt", "fs/dir1/b.txt")
    assert not cat.exists("fs/dir1/a.txt")
    assert cat.exists("fs/dir1/b.txt")
    assert cat.delete_path("fs/dir1", recursive=True)
    assert not cat.exists("fs/dir1")


def test_upload_read_roundtrip(cat):
    cat.create_filesystem("fs")
    data = b"hello lake \x00\x01 bytes" * 100
    n = cat.upload_bytes("fs/blob.bin", data)
    assert n == len(data)
    assert cat.read_bytes("fs/blob.bin") == data
    info = cat.get_properties("fs/blob.bin")
    assert info.length == len(data) and not info.is_dir


def test_recursive_listing(cat):
    cat.create_filesystem("fs")
    cat.create_path("fs/a/b/c.txt")
    cat.upload_bytes("fs/a/d.txt", b"x")
    rec = [p.name for p in cat.list_paths("fs", recursive=True)]
    assert sorted(rec) == ["c.txt", "d.txt"]


def test_spark_reads_catalog_written_file(cat, spark):
    """The catalog and the engine share one filesystem view: bytes written
    via the catalog are readable by a Spark scan."""
    cat.create_filesystem("fs")
    cat.upload_bytes("fs/data.csv", b"a,b\n1,x\n2,y\n")
    df = spark.read.option("header", True).csv(cat._root + "/fs/data.csv")
    assert df.count() == 2


def test_set_get_properties(cat):
    """R13/R12 parity (reference tests.py test_set_properties_filesystem,
    client.py:308-325): free-form key=val user properties on a filesystem
    or path, replace semantics, readable back. Local fs exercises the
    sidecar fallback; on abfss:// the same calls ride ABFS xattrs
    (x-ms-properties)."""
    cat.create_filesystem("fsp")
    cat.set_properties("fsp", {"owner": "alice", "tier": "hot"})
    assert cat.get_user_properties("fsp") == {"owner": "alice", "tier": "hot"}
    # replace, not merge (the reference's x-ms-properties header semantics)
    cat.set_properties("fsp", {"owner": "bob"})
    assert cat.get_user_properties("fsp") == {"owner": "bob"}
    # path-level properties; sidecars stay out of listings
    cat.upload_bytes("fsp/f.txt", b"x")
    cat.set_properties("fsp/f.txt", {"lang": "en"})
    assert cat.get_user_properties("fsp/f.txt") == {"lang": "en"}
    assert [p.name for p in cat.list_paths("fsp")] == ["f.txt"]
    # unset path → empty dict
    cat.upload_bytes("fsp/g.txt", b"y")
    assert cat.get_user_properties("fsp/g.txt") == {}


def test_versioned_table_commit_read_time_travel(spark):
    """VersionedTable: manifest-log commits publish atomically (a listed
    manifest always has complete data behind it), snapshots stay
    independently readable, expire retains the newest K and protects
    readers from dangling manifests."""
    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    root = tempfile.mkdtemp(prefix="vt_root_")
    vt = VersionedTable(spark, f"file://{root}")
    assert vt.versions() == [] and vt.current_version() == 0
    with pytest.raises(ValueError):
        vt.read()

    df1 = spark.range(5).withColumnRenamed("id", "k")
    v1 = vt.commit(df1)
    df2 = spark.range(8).withColumnRenamed("id", "k")
    v2 = vt.commit(df2)
    assert (v1, v2) == (1, 2)
    assert vt.versions() == [1, 2]

    # latest resolves to v2; time travel to v1 still sees 5 rows
    assert vt.read().count() == 8
    assert vt.read(1).count() == 5
    # snapshots are immutable: committing again never mutates old dirs
    vt.commit(df1.filter("k < 2"))
    assert vt.read(1).count() == 5 and vt.read(2).count() == 8
    assert vt.read().count() == 2

    dropped = vt.expire(keep_last=2)
    assert dropped == [1]
    assert vt.versions() == [2, 3]
    with pytest.raises(ValueError):
        vt.read(1)
    # survivors unaffected
    assert vt.read(2).count() == 8 and vt.read().count() == 2


def test_versioned_table_append_and_read_changes(spark):
    """append_commit: O(delta) commits, cumulative manifests, file-level
    change reads; full commit/optimize resets the chain; expire keeps the
    chain readable for retained versions; vacuum treats every dir in a
    cumulative manifest as live."""
    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    root = tempfile.mkdtemp(prefix="vt_appd_")
    vt = VersionedTable(spark, f"file://{root}")
    vt.append_commit(spark.range(0, 5).withColumnRenamed("id", "k"))
    vt.append_commit(spark.range(5, 8).withColumnRenamed("id", "k"))
    vt.append_commit(spark.range(8, 10).withColumnRenamed("id", "k"))
    assert vt.read(1).count() == 5
    assert vt.read(2).count() == 8           # cumulative
    assert vt.read().count() == 10
    ch = vt.read_changes(1, 3)
    assert sorted(r["k"] for r in ch.collect()) == [5, 6, 7, 8, 9]
    assert vt.read_changes(2).count() == 2   # default `to` = latest
    assert vt.read_changes(3, 3).count() == 0

    # a compaction (full snapshot) resets the chain: the next change read
    # from the optimized version sees only post-optimize appends
    v4 = vt.optimize(target_files=1)
    assert vt.read(v4).count() == 10
    vt.append_commit(spark.range(10, 12).withColumnRenamed("id", "k"))
    assert sorted(r["k"] for r in vt.read_changes(v4).collect()) == [10, 11]

    # vacuum must keep every dir referenced by cumulative manifests
    assert vt.vacuum_orphans(dry_run=True, min_age_s=0) == []
    assert vt.read(2).count() == 8

    # expire on the append chain: dropping versions 1-3 must NOT delete
    # dirs _v1.._v3 — v4 (the compacted snapshot) owns _v4 only, but v5's
    # cumulative manifest is [_v4, _v5]; expiring 1-3 deletes their
    # manifests AND dirs (nothing retained references them), while
    # expiring down to v5 alone must keep _v4 alive because v5 still
    # reads it (the data-loss bug class: manifest-prefix expiry).
    dropped = vt.expire(keep_last=2)        # keep v4, v5
    assert dropped == [1, 2, 3]
    assert vt.read(v4).count() == 10
    assert vt.read().count() == 12
    dropped = vt.expire(keep_last=1)        # keep only v5 (refs _v4+_v5)
    assert dropped == [v4]
    assert vt.read().count() == 12          # _v4 retained: still readable
    # and the retained-dir set is exactly what the live manifest lists
    assert vt.vacuum_orphans(dry_run=True, min_age_s=0) == []


# ------------------------------------------------- S17 python data source


def test_lake_listing_datasource(spark, tmp_path):
    """Partitioned walk + ext/is_dir pushdown of the custom Python
    DataSource (sources/pyds.py)."""
    import pyspark.sql.functions as F
    from pydatalake_gen2_spark.sources.pyds import ensure_registered

    root = tmp_path / "lake"
    (root / "a" / "deep").mkdir(parents=True)
    (root / "b").mkdir()
    (root / "top.csv").write_text("x")
    (root / "a" / "one.parquet").write_bytes(b"12345")
    (root / "a" / "deep" / "two.parquet").write_bytes(b"123")
    (root / "b" / "three.txt").write_text("abc")

    ensure_registered(spark)
    df = spark.read.format("lake_listing").option("path", str(root)).load()

    rows = {r.name: r for r in df.collect()}
    assert set(rows) == {
        "a", "b", "top.csv", "a/deep", "a/one.parquet",
        "a/deep/two.parquet", "b/three.txt",
    }
    assert rows["a"].is_dir and rows["a"].depth == 1
    assert rows["a/deep/two.parquet"].size_bytes == 3
    assert rows["a/deep/two.parquet"].depth == 3
    assert rows["top.csv"].ext == "csv"

    # ext pushdown: only parquet entries survive the walk
    pq = df.filter(F.col("ext") == "parquet").select("name").collect()
    assert {r.name for r in pq} == {"a/one.parquet", "a/deep/two.parquet"}

    # is_dir pushdown composes
    dirs = df.filter(F.col("is_dir") == True).select("name").collect()  # noqa: E712
    assert {r.name for r in dirs} == {"a", "b", "a/deep"}

    # one partition per root child subtree + the root itself
    n_parts = (
        spark.read.format("lake_listing").option("path", str(root)).load()
        .select(F.spark_partition_id().alias("p")).distinct().count()
    )
    assert n_parts == 3  # subtrees a, b + root-direct entries


def test_commit_race_exactly_one_winner(spark):
    """Multi-writer commit race (r8 verdict #7), claim-first protocol:
    two writers observe the same current version and both attempt
    version N+1. Claiming `_claim.{N+1}.inflight` (atomic create) is
    the arbitration point and happens BEFORE any data write, so exactly
    one writer proceeds; the loser returns False having written
    NOTHING (no clobber, no orphan, no wasted Spark job) and its public
    retry lands at N+2. A crashed writer's stale claim makes commits
    fail loud — never corrupt — and vacuum_orphans reclaims it, plus
    any unparseable manifest remnant. Extends ST15's crash test and
    S30's orphan sweep from crash-failure to concurrency-failure."""
    import pytest as _pytest

    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    root = tempfile.mkdtemp(prefix="vt_race_")
    # short claim-wait: this test PLANTS a stale claim below and must not
    # sit out the production 60 s live-writer grace period
    writer_a = VersionedTable(spark, f"file://{root}", claim_wait_s=0.3)
    writer_b = VersionedTable(spark, f"file://{root}", claim_wait_s=0.3)
    base = spark.range(10).withColumnRenamed("id", "k")
    assert writer_a.commit(base) == 1

    # Interleave: both writers resolve v=2; A claims and publishes, B's
    # attempt loses at the CLAIM and touches nothing.
    df_a = spark.range(100).withColumnRenamed("id", "k")
    df_b = spark.range(7).withColumnRenamed("id", "k")
    v = writer_a.current_version() + 1
    assert v == writer_b.current_version() + 1 == 2
    won_a = writer_a._attempt_commit(df_a, v, append=False)
    won_b = writer_b._attempt_commit(df_b, v, append=False)
    assert won_a and not won_b  # exactly one wins
    # the loser never wrote: winner's snapshot intact, no orphans at all
    assert writer_b.read(2).count() == 100
    assert writer_a.vacuum_orphans(dry_run=True, min_age_s=0) == []

    # loser's public-API retry lands at version 3 with its own data
    assert writer_b.commit(df_b) == 3
    assert writer_a.read().count() == 7
    assert writer_a.read(2).count() == 100  # history intact

    # stale claim from a "crashed" writer: commits fail LOUD (bounded
    # retries, clear message), never overwrite. A claim younger than
    # vacuum's retention fence is diagnosed as POSSIBLY-LIVE ("commit
    # still in progress") and must NOT carry vacuum advice — following
    # it with a reduced min_age_s could delete a live writer's claim
    # (r10 ADVICE #1)...
    assert writer_a._cat.create_bytes_atomic(
        writer_a._claim_name(4), b"{}"
    )
    with _pytest.raises(RuntimeError, match="commit still in progress"):
        writer_a.commit(df_a)
    # ...while a claim OLDER than the retention fence is a crashed
    # writer's and the message points at vacuum_orphans. Age the claim
    # on disk past the fence (local fs: utime).
    import os as _os

    from pydatalake_gen2_spark.sources import versioned as _vmod

    claim_local = _os.path.join(
        writer_a.root.removeprefix("file://"), writer_a._claim_name(4)
    )
    old = time.time() - (_vmod._VACUUM_MIN_AGE_S + 60)
    _os.utime(claim_local, (old, old))
    with _pytest.raises(RuntimeError, match="vacuum_orphans"):
        writer_a.commit(df_a)
    assert writer_a.vacuum_orphans(min_age_s=0) == ["_claim.00000004.inflight"]
    assert writer_a.commit(df_a) == 4

    # crashed mid-manifest-write: an unparseable manifest is invisible
    # to readers (versions() skips it) and vacuum heals it
    writer_a._cat.upload_bytes(writer_a._manifest_name(5), b"")
    assert writer_a.versions() == [1, 2, 3, 4]
    assert writer_a.read().count() == 100
    orphans = writer_a.vacuum_orphans(min_age_s=0)
    assert orphans == ["_manifest.00000005.json"]
    assert writer_a.commit(df_b) == 5

    # expire() derives dirs from the manifests themselves and never
    # touches a clone's source (external-path guard)
    dropped = writer_a.expire(keep_last=1)
    assert dropped == [1, 2, 3, 4]
    assert writer_a.read().count() == 7
    with pytest.raises(ValueError):
        writer_a.read(2)


def test_commit_race_threaded_every_writer_lands(spark):
    """GENUINELY concurrent multi-writer commits (r9 verdict #4: the
    sequential interleave above proves arbitration logic; this exercises
    the atomic-create primitive under real thread parallelism). N threads
    release from a barrier and commit() simultaneously against ONE table
    root. The claim-first protocol + loser backoff (_await_claim_release)
    must serialize them so that: every thread lands exactly one version,
    the version sequence is gapless 1..N, each thread's rows are in
    exactly one version, and nothing is orphaned. Local-FS atomicity is
    real here: lake.py create_bytes_atomic routes file: scheme through
    POSIX O_CREAT|O_EXCL (Hadoop RawLocalFileSystem.create is
    check-then-create and would flake this test)."""
    import threading

    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    n = 8
    root = tempfile.mkdtemp(prefix="vt_trace_")
    results: dict[int, int] = {}
    errors: list = []
    barrier = threading.Barrier(n)

    def worker(i: int) -> None:
        try:
            vt = VersionedTable(spark, f"file://{root}")
            df = (
                spark.range(100 * i, 100 * i + 10)
                .withColumnRenamed("id", "k")
            )
            barrier.wait()
            # worst case a thread loses a race to every other thread at
            # every version slot it tries, so give it headroom
            results[i] = vt.commit(df, max_attempts=4 * n)
        except Exception as e:  # noqa: BLE001 — surfaced via assert below
            errors.append((i, repr(e)))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert len(results) == n

    vt = VersionedTable(spark, f"file://{root}")
    vs = vt.versions()
    assert vs == list(range(1, n + 1))  # exactly N versions, gapless
    # each thread landed exactly one distinct version
    assert sorted(results.values()) == vs
    # every thread's data is present, intact, in exactly one version
    landed = {
        v: frozenset(r.k for r in vt.read(v).collect()) for v in vs
    }
    expected = {
        frozenset(range(100 * i, 100 * i + 10)) for i in range(n)
    }
    assert set(landed.values()) == expected
    assert len(set(landed.values())) == n
    # no claims, no orphan dirs, no torn manifests left behind
    assert vt.vacuum_orphans(dry_run=True, min_age_s=0) == []


def test_expire_then_recommit_resolves_fresh_manifests(spark):
    """r10 review finding #1, strengthened in r11: after a full expire,
    version slots are NEVER recycled (the _hwm marker) — new commits
    number PAST the dead chain, so the parsed-manifest cache can never
    serve a dead manifest under a reused name in ANY live instance (the
    r10 (name, mtime[, length]) key was only probabilistic on
    coarse-mtime stores; monotone numbering closes the class). A second
    instance that cached the dead version 3 before the expire must see
    it as GONE, not as either the old or a new table."""
    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    root = tempfile.mkdtemp(prefix="vt_reuse_")
    vt = VersionedTable(spark, f"file://{root}")
    vt.append_commit(spark.range(0, 5).withColumnRenamed("id", "k"))
    vt.append_commit(spark.range(5, 8).withColumnRenamed("id", "k"))
    vt.append_commit(spark.range(8, 10).withColumnRenamed("id", "k"))
    # a second instance caches version 3's cumulative manifest NOW
    vt2 = VersionedTable(spark, f"file://{root}")
    assert vt2.read(3).count() == 10

    assert vt.expire(keep_last=0) == [1, 2, 3]
    assert vt.versions() == []
    # new commits resume past the retired chain — slots 1..3 stay dead
    assert vt.commit(spark.range(0, 2).withColumnRenamed("id", "k")) == 4
    assert vt.commit(spark.range(0, 3).withColumnRenamed("id", "k")) == 5
    assert vt.commit(spark.range(0, 4).withColumnRenamed("id", "k")) == 6

    # the dead version is unreadable in BOTH instances (never silently
    # resolved from a stale cache, never resurrected by a new commit)
    with pytest.raises(ValueError, match="not in retained"):
        vt.read(3)
    with pytest.raises(ValueError, match="not in retained"):
        vt2.read(3)
    assert vt.read().count() == 4
    assert vt2.read().count() == 4
    assert vt2.vacuum_orphans(dry_run=True, min_age_s=0) == []


def test_diff_changes_classification(spark):
    """S47's engine surface directly: insert / delete / update pre+post
    images, unchanged keys silent, NULL-safe value compare, and the
    schema-mismatch guard."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    root = tempfile.mkdtemp(prefix="vt_diff_")
    vt = VersionedTable(spark, root)
    v1 = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, None), (3, 30, "c"), (4, None, "d")],
        "k INT, val INT, tag STRING",
    )
    v2 = spark.createDataFrame(
        [(1, 10, "a"),      # unchanged -> silent
         (2, 25, None),     # val changed (NULL tag stable) -> update
         (4, None, "d"),    # NULL val unchanged (null-safe) -> silent
         (5, 50, "e")],     # new key -> insert; key 3 gone -> delete
        "k INT, val INT, tag STRING",
    )
    vt.commit(v1)
    vt.commit(v2)  # rewrite
    rows = {
        (r.k, r.val, r.tag, r._change_type)
        for r in vt.diff_changes(1, 2, ["k"]).collect()
    }
    assert rows == {
        (2, 20, None, "update_preimage"),
        (2, 25, None, "update_postimage"),
        (3, 30, "c", "delete"),
        (5, 50, "e", "insert"),
    }
    # schema-mismatch guard
    vt.commit(v2.withColumn("extra", F.lit(1)))
    with _pytest.raises(ValueError, match="matching schemas"):
        vt.diff_changes(2, 3, ["k"])


def test_timestamp_time_travel_semantics(spark):
    """S46's engine surface directly: strictly monotone commit
    timestamps (ties impossible even for back-to-back commits),
    inclusive-left boundary resolution, pre-history error, selector
    mutual exclusion, and the legacy-manifest mtime fallback."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    root = tempfile.mkdtemp(prefix="vt_ts_")
    vt = VersionedTable(spark, root)
    df = spark.range(3)
    for _ in range(3):  # back-to-back commits inside one clock tick
        vt.commit(df)
    ts = [vt.commit_timestamp_us(v) for v in (1, 2, 3)]
    assert ts[0] < ts[1] < ts[2]  # strict, no ties
    assert vt.version_as_of(ts[1]) == 2        # inclusive at the commit
    assert vt.version_as_of(ts[1] - 1) == 1    # exclusive just before
    assert vt.version_as_of(ts[2] + 10**9) == 3  # far future -> latest
    with _pytest.raises(ValueError, match="no committed version"):
        vt.version_as_of(ts[0] - 1)            # pre-history
    with _pytest.raises(ValueError, match="not both"):
        vt.read(version=1, as_of_us=ts[0])
    assert vt.read(as_of_us=ts[1]).count() == 3
    # legacy manifest (pre-field): strip committed_at_us on disk; the
    # reader must fall back to the manifest file's mtime (ms -> us)
    name = vt._manifest_name(2)
    path = _os.path.join(root.removeprefix("file://"), name)
    m = _json.loads(open(path, "rb").read())
    del m["committed_at_us"]
    open(path, "w").write(_json.dumps(m))
    vt._manifest_cache.clear()
    legacy_ts = vt.commit_timestamp_us(2)
    st = _os.stat(path)
    assert abs(legacy_ts / 1e6 - st.st_mtime) < 2.0


def test_version_slots_never_reused_after_full_expire(spark):
    """r11 review: expire() retiring the LAST manifest publishes a
    high-water marker, so the next commit numbers PAST the dead slots
    instead of recycling them — the invariant that makes every
    manifest-cache key (here and in any other live instance) sound by
    construction. Vacuum must treat the marker as protocol state."""
    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    root = tempfile.mkdtemp(prefix="vt_hwm_")
    vt = VersionedTable(spark, root)
    df = spark.range(4)
    vt.commit(df)
    vt.commit(df)
    assert vt.versions() == [1, 2]
    assert vt.expire(keep_last=0) == [1, 2]
    assert vt.versions() == []
    # next commit resumes past the retired slots
    assert vt.commit(df) == 3
    assert vt.versions() == [3]
    # a SECOND instance (fresh cache, same store) sees the same numbering
    vt2 = VersionedTable(spark, root)
    assert vt2.commit(df) == 4
    # the marker survives vacuum (it is protocol state, not an orphan)
    vt.vacuum_orphans(min_age_s=0)
    vt.expire(keep_last=0)
    assert vt.commit(df) == 5


def test_cdf_reader_fails_loud_on_missing_predecessor(spark):
    """r11 review: a CDF version whose predecessor manifest is gone
    (expired/unreadable) must raise, not silently re-serve the whole
    cumulative chain as one version's delta."""
    import pytest as _pytest

    from pydatalake_gen2_spark.sources.pyds import _VersionChangesStreamReader
    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    root = tempfile.mkdtemp(prefix="vt_cdfgap_")
    vt = VersionedTable(spark, root)
    ev = spark.range(6).withColumnRenamed("id", "k")
    vt.commit(ev.filter("k % 3 = 0"))
    vt.append_commit(ev.filter("k % 3 = 1"))
    vt.append_commit(ev.filter("k % 3 = 2"))
    reader = _VersionChangesStreamReader(root, ["k"], 0)
    # intact chain: three deltas of 2 rows each
    rows, off = reader.read({"v": 0})
    assert off == {"v": 1} and len(list(rows)) == 2
    # drop manifest 2 (simulates an expired/unreadable predecessor)
    import os as _os

    _os.remove(_os.path.join(root, vt._manifest_name(2)))
    reader2 = _VersionChangesStreamReader(root, ["k"], 1)
    with _pytest.raises(ValueError, match="predecessor manifest 2"):
        list(reader2.read({"v": 1})[0])
    # restart past the gap works (since=2: serve version 3 against... no —
    # v3's predecessor IS visible? manifest 2 was removed, so prev(3)=1 != 2:
    # still a loud error, the honest answer)
    with _pytest.raises(ValueError, match="predecessor manifest"):
        list(_VersionChangesStreamReader(root, ["k"], 2).read({"v": 2})[0])


# ------------------------------------- manifest-recorded snapshot schema


def _all_types_frame(spark, lo: int, hi: int):
    """Rows lo..hi-1 over every parquet-writable leaf family plus nested
    types; ``i`` is declared non-nullable at the source."""
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("i", T.IntegerType(), False),
        T.StructField("l", T.LongType()),
        T.StructField("sh", T.ShortType()),
        T.StructField("b", T.ByteType()),
        T.StructField("f", T.FloatType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("dec", T.DecimalType(12, 2)),
        T.StructField("s", T.StringType()),
        T.StructField("bin", T.BinaryType()),
        T.StructField("bo", T.BooleanType()),
        T.StructField("dt", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ntz", T.TimestampNTZType()),
        T.StructField("arr", T.ArrayType(T.LongType(), False)),
        T.StructField("m", T.MapType(T.StringType(), T.DoubleType())),
        T.StructField("st", T.StructType([
            T.StructField("x", T.IntegerType(), False),
            T.StructField("inner", T.StructType([
                T.StructField("y", T.StringType()),
            ])),
        ])),
    ])
    rows = [
        (
            i, 10**12 + i, i % 300, i % 100, i / 4, i / 3,
            Decimal(i * 101) / 100, f"s{i}" if i % 5 else None,
            bytes([i % 256, 7]), i % 2 == 0, dt.date(2024, 1, 1 + i % 28),
            dt.datetime(2024, 2, 1, i % 24, 30, 15, 123456),
            dt.datetime(2024, 3, 1, 12, i % 60),
            [i, i + 1], {"k": i / 2} if i % 3 else None,
            (i, ("y" if i % 4 else None,)),
        )
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, schema)


def _inferred(vt, version: int, merge: bool = False):
    """The same version read the way a manifest WITHOUT ``schema`` is:
    Spark infers from parquet footers."""
    from pydatalake_gen2_spark.sources.versioned import _dirs

    reader = vt.spark.read
    if merge:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(
        *[vt._resolve(d) for d in _dirs(vt._manifest(version))]
    )


def _rows(df, key: str):
    return sorted(df.collect(), key=lambda r: r[key])


def _jobs_started(spark, fn) -> int:
    """Spark jobs started while building (not running) a read."""
    sc = spark.sparkContext
    group = f"test-vt-resolve-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "resolve a VersionedTable read")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _strip_schema(vt, root: str, version: int) -> None:
    """Rewrite a manifest on disk without ``schema`` (a legacy manifest)."""
    import json as _json
    import os as _os

    path = _os.path.join(root, vt._manifest_name(version))
    m = _json.loads(open(path, "rb").read())
    del m["schema"]
    open(path, "w").write(_json.dumps(m))
    vt._manifest_cache.clear()


def test_manifest_schema_matches_inferred_schema_and_rows(spark):
    """A recorded ``schema`` must read back exactly what footer inference
    gives — every type family, nested types, and a non-nullable source
    column (Spark reads every file column as nullable either way) — for
    a single-dir commit and a multi-dir append chain."""
    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    root = tempfile.mkdtemp(prefix="vt_schema_")
    vt = VersionedTable(spark, root)
    v1 = vt.commit(_all_types_frame(spark, 0, 6))
    vt.append_commit(_all_types_frame(spark, 6, 9))
    v3 = vt.append_commit(_all_types_frame(spark, 9, 13))
    assert len(vt._manifest(v3)["dirs"]) == 3
    for v in (v1, v3):
        assert "schema" in vt._manifest(v)
        got, ref = vt.read(v), _inferred(vt, v)
        assert got.schema == ref.schema
        assert _rows(got, "i") == _rows(ref, "i")
        assert vt.read(v, merge_schema=True).schema == ref.schema
    assert all(f.nullable for f in vt.read(v1).schema.fields)
    ch = vt.read_changes(since=v1)
    assert ch.schema == _inferred(vt, v3).schema
    assert [r["i"] for r in _rows(ch, "i")] == list(range(6, 13))


def test_add_column_append_and_legacy_manifest_keep_inference(spark):
    """Fallbacks: (a) an append that adds a column writes no ``schema``
    (nor does any later append on that chain), and its reads, with and
    without merge_schema, equal the inference path; a full commit records
    it again. (b) a manifest with ``schema`` stripped on disk still reads
    through inference."""
    from pyspark.sql import functions as F

    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    root = tempfile.mkdtemp(prefix="vt_evolve_")
    vt = VersionedTable(spark, root)
    base = spark.range(0, 6).withColumnRenamed("id", "k")
    vt.commit(base.withColumn("a", F.col("k") * 2))
    v2 = vt.append_commit(
        spark.range(6, 9).withColumnRenamed("id", "k")
        .withColumn("a", F.col("k") * 2)
        .withColumn("extra", F.concat(F.lit("e"), F.col("k").cast("string")))
    )
    v3 = vt.append_commit(
        spark.range(9, 11).withColumnRenamed("id", "k")
        .withColumn("a", F.col("k") * 2)
        .withColumn("extra", F.lit("z"))
    )
    for v in (v2, v3):
        assert "schema" not in vt._manifest(v)
        for merge in (False, True):
            got, ref = vt.read(v, merge_schema=merge), _inferred(vt, v, merge)
            assert got.schema == ref.schema
            assert _rows(got, "k") == _rows(ref, "k")
    evolved = vt.read(v3, merge_schema=True)
    assert evolved.columns == ["k", "a", "extra"]
    assert evolved.filter("extra IS NULL").count() == 6
    assert sorted(r["k"] for r in vt.read_changes(since=v2).collect()) == [9, 10]
    v4 = vt.commit(evolved)  # a full snapshot: one dir, one schema
    assert vt._manifest(v4)["schema"] == evolved.schema.json()

    # (b) legacy manifest: strip the key on disk; the read infers
    v5 = vt.commit(base)
    expect = _rows(vt.read(v5), "k")
    _strip_schema(vt, root, v5)
    assert "schema" not in vt._manifest(v5)
    assert vt.read(v5).schema == _inferred(vt, v5).schema
    assert _rows(vt.read(v5), "k") == expect
    # an append onto the legacy manifest cannot vouch for its dir
    v6 = vt.append_commit(spark.range(6, 8).withColumnRenamed("id", "k"))
    assert "schema" not in vt._manifest(v6)
    assert vt.read(v6).count() == 8


def test_versioned_reads_start_no_spark_job(spark):
    """Latest, time-travel, change and shallow-clone reads resolve from the
    manifest alone: 0 Spark jobs each. The same read of a manifest without
    ``schema`` starts the footer-inference job, so the gate can fail."""
    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    root = tempfile.mkdtemp(prefix="vt_jobs_")
    vt = VersionedTable(spark, root)
    k = vt.commit(spark.range(0, 5).withColumnRenamed("id", "k"))
    vt.append_commit(spark.range(5, 9).withColumnRenamed("id", "k"))
    vt.append_commit(spark.range(9, 12).withColumnRenamed("id", "k"))
    clone = VersionedTable(spark, tempfile.mkdtemp(prefix="vt_jobs_clone_"))
    clone.clone_from(vt)
    assert _jobs_started(spark, lambda: vt.read()) == 0
    assert _jobs_started(spark, lambda: vt.read(version=k)) == 0
    assert _jobs_started(spark, lambda: vt.read_changes(since=k)) == 0
    assert _jobs_started(spark, lambda: clone.read()) == 0
    assert vt.read_changes(since=k).count() == 7 and clone.read().count() == 12

    _strip_schema(vt, root, k)
    assert _jobs_started(spark, lambda: vt.read(version=k)) >= 1


def test_clone_copies_source_schema(spark):
    """clone_from carries the source version's ``schema`` into the clone
    manifest (the clone reads the same dirs), and carries none when the
    source version has none."""
    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    root = tempfile.mkdtemp(prefix="vt_clsrc_")
    src = VersionedTable(spark, root)
    v1 = src.commit(spark.range(4).withColumnRenamed("id", "k"))
    clone = VersionedTable(spark, tempfile.mkdtemp(prefix="vt_cl_"))
    c1 = clone.clone_from(src, v1)
    assert clone._manifest(c1)["schema"] == src._manifest(v1)["schema"]
    assert clone.read().schema == src.read().schema
    # the clone's own appends extend the recorded schema
    c2 = clone.append_commit(spark.range(4, 6).withColumnRenamed("id", "k"))
    assert clone._manifest(c2)["schema"] == src._manifest(v1)["schema"]
    assert clone.read().count() == 6 and src.read().count() == 4

    _strip_schema(src, root, v1)
    bare = VersionedTable(spark, tempfile.mkdtemp(prefix="vt_cl_bare_"))
    b1 = bare.clone_from(src, v1)
    assert "schema" not in bare._manifest(b1)
    assert bare.read().count() == 4
