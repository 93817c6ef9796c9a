"""Hash-memo semantics: J1 validity join + S4 COALESCE upsert
(cache.rs:19-77, lib.rs:97-105)."""

from __future__ import annotations

import datetime

import pandas as pd
import pytest

from dedupe_algo_spark.schemas import MEMO_SCHEMA
from dedupe_algo_spark.sources.memo import HashMemo, validity_join

T1 = datetime.datetime(2026, 1, 1)
T2 = datetime.datetime(2026, 2, 2)


def _memo_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=MEMO_SCHEMA.fieldNames()), schema=MEMO_SCHEMA
    )


def test_validity_join_hit_and_stale(spark):
    memo = _memo_df(
        spark,
        [
            ("u1", 100, T1, "p1", "s1"),  # valid
            ("u2", 100, T1, "p2", "s2"),  # stale ts below
            ("u3", 100, T1, "p3", "s3"),  # stale len below
        ],
    )
    pages = spark.createDataFrame(
        [("u1", 100, T1), ("u2", 100, T2), ("u3", 999, T1), ("u4", 5, T1)],
        "url string, text_len long, warc_ts timestamp",
    )
    out = {r["url"]: r for r in validity_join(pages, memo).collect()}
    assert out["u1"]["reused_sha256"] == "s1"
    assert out["u2"]["reused_sha256"] is None  # mtime changed → recompute
    assert out["u3"]["reused_sha256"] is None  # size changed → recompute
    assert out["u4"]["reused_sha256"] is None  # never seen


def test_upsert_coalesce_never_nulls_a_hash(spark, tmp_path):
    memo = HashMemo(spark, str(tmp_path / "memo"))
    memo.upsert(_memo_df(spark, [("u1", 100, T1, "p1", "s1")]))
    # new row with null hashes must keep old hashes (cache.rs:69-70)
    memo.upsert(_memo_df(spark, [("u1", 100, T2, None, None)]))
    row = memo.read().collect()[0]
    assert row["partial_hash"] == "p1" and row["content_sha256"] == "s1"
    assert row["warc_ts"] == T2  # metadata updated


def test_upsert_inserts_and_updates(spark, tmp_path):
    memo = HashMemo(spark, str(tmp_path / "memo"))
    memo.upsert(_memo_df(spark, [("u1", 1, T1, "p1", "s1")]))
    memo.upsert(_memo_df(spark, [("u2", 2, T1, "p2", "s2"), ("u1", 1, T1, "px", "sx")]))
    rows = {r["url"]: r for r in memo.read().collect()}
    assert set(rows) == {"u1", "u2"}
    assert rows["u1"]["content_sha256"] == "sx"  # non-null new wins


def test_upsert_touches_only_affected_shards(spark, tmp_path):
    path = str(tmp_path / "memo")
    memo = HashMemo(spark, path, n_shards=8)
    seed = [(f"u{i}", i, T1, f"p{i}", f"s{i}") for i in range(64)]
    memo.upsert(_memo_df(spark, seed))

    before = memo._load_manifest()["shards"]
    assert len(before) > 1  # keys actually spread
    memo.upsert(_memo_df(spark, [("u1", 1, T2, "px", None)]))
    after = memo._load_manifest()["shards"]
    changed = [k for k in after if before.get(k) != after[k]]
    assert len(changed) == 1  # one key -> exactly one shard version bumped
    rows = {r["url"]: r for r in memo.read().collect()}
    assert len(rows) == 64
    assert rows["u1"]["partial_hash"] == "px"
    assert rows["u1"]["content_sha256"] == "s1"  # COALESCE kept across shard rewrite


def test_crashed_upsert_leaves_state_intact(spark, tmp_path, monkeypatch):
    """Staging is invisible until the single manifest replace: an upsert
    that dies after writing every staged shard but before the commit
    leaves reads on the old state, and the next successful upsert lands
    the new rows and collects the orphans."""
    import os

    path = str(tmp_path / "memo")
    memo = HashMemo(spark, path, n_shards=4)
    memo.upsert(_memo_df(spark, [(f"u{i}", i, T1, f"p{i}", f"s{i}") for i in range(16)]))

    def boom(manifest):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(memo, "_commit_manifest", boom)
    with pytest.raises(RuntimeError):
        memo.upsert(_memo_df(spark, [("u1", 1, T2, "px", None)]))
    monkeypatch.undo()
    rows = {r["url"]: r for r in memo.read().collect()}
    assert len(rows) == 16 and rows["u1"]["warc_ts"] == T1  # old state
    orphans = [d for d in os.listdir(path) if d.startswith(".shard-")]
    assert len(orphans) > len(memo._load_manifest()["shards"])  # staged junk

    memo.upsert(_memo_df(spark, [("u1", 1, T2, "px", None)]))
    rows = {r["url"]: r for r in memo.read().collect()}
    assert rows["u1"]["warc_ts"] == T2 and rows["u1"]["content_sha256"] == "s1"
    live = set(memo._load_manifest()["shards"].values())
    on_disk = {d for d in os.listdir(path) if d.startswith(".shard-")}
    assert on_disk == live  # orphans collected


def test_manifestless_dir_reads_as_empty(spark, tmp_path):
    """Only a manifest names memo data: parquet files in a directory
    without one read as an empty memo, and the first upsert commits a
    manifest and collects the unreferenced files."""
    import os

    path = str(tmp_path / "memo")
    _memo_df(spark, [("u1", 1, T1, "p1", "s1")]).write.parquet(path)
    memo = HashMemo(spark, path, n_shards=4)
    assert memo.read().count() == 0
    memo.upsert(_memo_df(spark, [("u3", 3, T1, "p3", "s3")]))
    assert [r["url"] for r in memo.read().collect()] == ["u3"]
    live = set(memo._load_manifest()["shards"].values())
    assert set(os.listdir(path)) == live | {"MANIFEST.json"}


def test_clear(spark, tmp_path):
    memo = HashMemo(spark, str(tmp_path / "memo"))
    memo.upsert(_memo_df(spark, [("u1", 1, T1, "p", "s")]))
    memo.clear()
    assert memo.read().count() == 0


def test_reopen_adopts_committed_shard_count(spark, tmp_path):
    """A memo committed with n_shards=4 reopened with the default 16
    must adopt 4 BEFORE sharding the updates — the shard column and the
    manifest swap have to agree or updates silently vanish."""
    path = str(tmp_path / "memo")
    HashMemo(spark, path, n_shards=4).upsert(
        _memo_df(spark, [(f"u{i}", i, T1, f"p{i}", f"s{i}") for i in range(16)])
    )
    memo = HashMemo(spark, path)  # default n_shards=16
    memo.upsert(
        _memo_df(spark, [(f"u{i}", i, T2, f"q{i}", None) for i in range(16)])
    )
    assert memo.n_shards == 4
    rows = {r["url"]: r for r in memo.read().collect()}
    assert len(rows) == 16
    for i in range(16):
        assert rows[f"u{i}"]["warc_ts"] == T2  # every update landed
        assert rows[f"u{i}"]["partial_hash"] == f"q{i}"
        assert rows[f"u{i}"]["content_sha256"] == f"s{i}"  # COALESCE kept


def test_crashed_first_upsert_reads_as_empty(spark, tmp_path, monkeypatch):
    """A first-ever upsert that dies after staging but before the
    manifest commit must leave the memo reading as its previous state —
    empty — not surface the uncommitted rows (staged dirs are hidden)."""
    path = str(tmp_path / "memo")
    memo = HashMemo(spark, path, n_shards=4)

    def boom(manifest):
        raise RuntimeError("crash before first commit")

    monkeypatch.setattr(memo, "_commit_manifest", boom)
    with pytest.raises(RuntimeError):
        memo.upsert(_memo_df(spark, [("u1", 1, T1, "p1", "s1")]))
    monkeypatch.undo()
    assert memo.read().count() == 0  # previous (empty) state intact

    memo.upsert(_memo_df(spark, [("u1", 1, T2, "p1", "s1")]))
    rows = {r["url"]: r for r in memo.read().collect()}
    assert rows["u1"]["warc_ts"] == T2  # recovery upsert lands cleanly
