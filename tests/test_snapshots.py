"""Snapshot-table semantics (Iceberg-style properties on parquet):
atomic commit, snapshot isolation, time travel, optimistic concurrency,
expiry collecting orphans."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from pdf_extraction_tests_spark import snapshots as S


def _df(spark, ids):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": list(ids), "text": [f"t{i}" for i in ids]}))


class TestSnapshots:
    def test_append_and_overwrite_lineage(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        v1 = S.commit_snapshot(_df(spark, [1, 2]), t)
        v2 = S.commit_snapshot(_df(spark, [3]), t, mode="append")
        assert (v1, v2) == (1, 2)
        assert sorted(r.doc_id for r in S.read_snapshot(spark, t).collect()) \
            == [1, 2, 3]
        v3 = S.commit_snapshot(_df(spark, [9]), t, mode="overwrite")
        assert v3 == 3
        assert [r.doc_id for r in S.read_snapshot(spark, t).collect()] == [9]

    def test_time_travel_reads_history(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        S.commit_snapshot(_df(spark, [1]), t)
        S.commit_snapshot(_df(spark, [2]), t)
        S.commit_snapshot(_df(spark, [9]), t, mode="overwrite")
        assert sorted(r.doc_id
                      for r in S.read_snapshot(spark, t, 2).collect()) == [1, 2]
        assert [m["version"] for m in S.list_snapshots(t)] == [1, 2, 3]
        assert [m["mode"] for m in S.list_snapshots(t)] \
            == ["append", "append", "overwrite"]

    def test_unpublished_write_is_invisible(self, spark, tmp_path):
        """Snapshot isolation: a data dir without a published manifest (a
        crashed commit) must never be read."""
        t = str(tmp_path / "tbl")
        S.commit_snapshot(_df(spark, [1]), t)
        # simulate a crash after the data write, before publish
        orphan = os.path.join(t, "data", "s2-deadbeef")
        _df(spark, [666]).write.parquet(orphan)
        got = [r.doc_id for r in S.read_snapshot(spark, t).collect()]
        assert got == [1]

    def test_concurrent_commit_loses_cleanly(self, spark, tmp_path,
                                             monkeypatch):
        """The true race window: both committers read the same version,
        one publishes first — the other's atomic link must fail cleanly.
        Simulated by pinning the loser's version read to the stale value
        (a pre-published manifest is otherwise correctly ADOPTED as
        current since the publish/pointer crash-window fix)."""
        t = str(tmp_path / "tbl")
        S.commit_snapshot(_df(spark, [1]), t)
        m = {"version": 2, "parent": 1, "mode": "append", "data_dirs": [],
             "schema": _df(spark, [1]).schema.jsonValue(), "tag": None}
        with open(S._manifest_path(t, 2), "w") as f:
            json.dump(m, f)
        monkeypatch.setattr(S, "current_version", lambda _t: 1)  # stale read
        with pytest.raises(S.ConcurrentCommitError):
            S.commit_snapshot(_df(spark, [2]), t)
        monkeypatch.undo()
        # the loser's data dir is orphaned, not referenced; the winner's
        # published v2 is current
        assert S.current_version(t) == 2

    def test_expire_drops_history_and_orphans(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        S.commit_snapshot(_df(spark, [1]), t)
        S.commit_snapshot(_df(spark, [2]), t)
        S.commit_snapshot(_df(spark, [3]), t)
        orphan = os.path.join(t, "data", "s9-orphan")
        _df(spark, [666]).write.parquet(orphan)
        deleted = S.expire_snapshots(t, keep_last=2, orphan_grace_sec=0)
        assert any(d.endswith("s9-orphan") for d in deleted)
        # v1's own data dir is still referenced by append lineage (v2/v3
        # inherit it), so it survives; the orphan is gone
        assert [m["version"] for m in S.list_snapshots(t)] == [2, 3]
        assert S.read_snapshot(spark, t, 1) is None          # expired
        assert sorted(r.doc_id for r in
                      S.read_snapshot(spark, t).collect()) == [1, 2, 3]

    def test_committed_tag_is_not_committed_again(self, spark, tmp_path):
        """A replayed writer (streaming epoch, re-submitted job run) passes
        the same tag again: the second commit writes nothing."""
        t = str(tmp_path / "tbl")
        assert S.commit_snapshot(_df(spark, [1]), t, tag="epoch-0") == 1
        assert S.commit_snapshot(_df(spark, [1]), t, tag="epoch-0") is None
        assert [m["version"] for m in S.list_snapshots(t)] == [1]
        assert len(os.listdir(os.path.join(t, "data"))) == 1
        assert [r.doc_id for r in S.read_snapshot(spark, t).collect()] == [1]
        assert S.commit_snapshot(_df(spark, [2]), t, tag="epoch-1") == 2

    def test_older_manifest_keys_are_ignored(self, spark, tmp_path):
        """Manifests that also carry ``partition_by``/``hidden_cols`` (an
        earlier layout's keys, always empty for unpartitioned tables) still
        read and take appends."""
        t = str(tmp_path / "tbl")
        S.commit_snapshot(_df(spark, [1]), t)
        m = S._load_manifest(t, 1)
        m.update({"partition_by": [], "hidden_cols": []})
        with open(S._manifest_path(t, 1), "w") as f:
            json.dump(m, f)
        S.commit_snapshot(_df(spark, [2]), t)
        assert sorted(r.doc_id
                      for r in S.read_snapshot(spark, t).collect()) == [1, 2]

    def test_table_path_spelled_two_ways(self, spark, tmp_path, monkeypatch):
        """A table committed under a relative path reads, expires and takes
        appends under its absolute path or from another working directory
        without losing the current snapshot's data."""
        t = str(tmp_path / "tbl")
        S.commit_snapshot(_df(spark, [1, 2]), os.path.relpath(t))
        S.commit_snapshot(_df(spark, [3]), os.path.relpath(t))
        live = sorted(os.listdir(os.path.join(t, "data")))
        monkeypatch.chdir(tmp_path)
        assert S.expire_snapshots(t, keep_last=1, orphan_grace_sec=0) == []
        assert sorted(os.listdir(os.path.join(t, "data"))) == live
        assert sorted(r.doc_id
                      for r in S.read_snapshot(spark, t).collect()) == [1, 2, 3]
        # the JVM keeps its own working directory: "tbl" must still land here
        S.commit_snapshot(_df(spark, [4]), "tbl")
        assert sorted(r.doc_id for r in
                      S.read_snapshot(spark, t).collect()) == [1, 2, 3, 4]

    def test_expire_after_overwrite_frees_old_data(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        S.commit_snapshot(_df(spark, [1, 2]), t)
        S.commit_snapshot(_df(spark, [9]), t, mode="overwrite")
        deleted = S.expire_snapshots(t, keep_last=1, orphan_grace_sec=0)
        assert len(deleted) == 1                              # v1's data dir
        assert [r.doc_id for r in S.read_snapshot(spark, t).collect()] == [9]


class TestExpireGracePeriod:
    def test_fresh_orphan_survives_default_grace(self, spark, tmp_path):
        """commit_snapshot writes data BEFORE the manifest publish, so a
        concurrent expire must not reclaim a young unreferenced dir —
        it may be an in-flight commit."""
        t = str(tmp_path / "tbl")
        S.commit_snapshot(_df(spark, [1]), t)
        inflight = os.path.join(t, "data", "s9-inflight")
        _df(spark, [666]).write.parquet(inflight)
        deleted = S.expire_snapshots(t, keep_last=1)   # default grace
        assert deleted == []
        assert os.path.isdir(inflight)
        # backdating past the grace window makes it a true orphan
        old = os.path.getmtime(inflight) - 7200
        os.utime(inflight, (old, old))
        deleted = S.expire_snapshots(t, keep_last=1)
        assert [os.path.basename(d) for d in deleted] == ["s9-inflight"]

    def test_missing_referenced_dir_warns(self, spark, tmp_path):
        import shutil as _sh
        import warnings as _w
        t = str(tmp_path / "tbl")
        S.commit_snapshot(_df(spark, [1]), t)
        S.commit_snapshot(_df(spark, [2]), t)
        first = S._load_manifest(t, 1)["data_dirs"][0]
        _sh.rmtree(os.path.join(t, first))
        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            got = S.read_snapshot(spark, t)
            rows = sorted(r.doc_id for r in got.collect())
        assert rows == [2]
        assert any("missing" in str(c.message) for c in caught)


class TestCrashBetweenPublishAndPointer:
    def test_published_but_unpointed_manifest_is_current(self, spark, tmp_path):
        """A commit that crashed AFTER the atomic manifest link but BEFORE
        the pointer advance is already durable: readers must see it and
        the next committer must build on it instead of racing its version
        number forever."""
        t = str(tmp_path / "tbl")
        S.commit_snapshot(_df(spark, [1]), t)
        # publish v2 by hand, but 'crash' before advancing the pointer
        m = dict(S._load_manifest(t, 1))
        m.update({"version": 2, "parent": 1, "tag": "crashed"})
        with open(S._manifest_path(t, 2), "w") as f:
            json.dump(m, f)
        assert S.current_version(t) == 2                 # manifest wins
        assert [r.doc_id for r in S.read_snapshot(spark, t).collect()] == [1]
        v3 = S.commit_snapshot(_df(spark, [3]), t)       # no eternal race
        assert v3 == 3
        assert sorted(r.doc_id
                      for r in S.read_snapshot(spark, t).collect()) == [1, 3]


class TestSnapshotSequencesMatchModel:
    def test_random_append_overwrite_sequences(self, spark, tmp_path):
        """Model check: any interleaving of appends and overwrites must
        read back exactly like a list-of-rows model, at every version."""
        import random

        rng = random.Random(42)
        t = str(tmp_path / "tbl")
        model: list[list[int]] = []   # model[v-1] = expected ids at version v+0
        next_id = 0
        for _step in range(8):
            ids = [next_id + k for k in range(rng.randint(1, 3))]
            next_id += len(ids)
            mode = "overwrite" if rng.random() < 0.3 else "append"
            S.commit_snapshot(_df(spark, ids), t, mode=mode)
            base = [] if (mode == "overwrite" or not model) else model[-1]
            model.append([*base, *ids])
        for v, want in enumerate(model, start=1):
            got = sorted(r.doc_id
                         for r in S.read_snapshot(spark, t, v).collect())
            assert got == sorted(want), f"version {v}"


class TestSchemaEvolution:
    def test_additive_column_null_fills_old_rows(self, spark, tmp_path):
        import pandas as pd
        t = str(tmp_path / "tbl")
        S.commit_snapshot(_df(spark, [1, 2]), t)
        evolved = spark.createDataFrame(pd.DataFrame({
            "doc_id": [3], "text": ["t3"], "lang": ["en"]}))
        S.commit_snapshot(evolved, t, mode="append")
        got = S.read_snapshot(spark, t)
        assert sorted(got.columns) == ["doc_id", "lang", "text"]
        rows = {r.doc_id: r.lang for r in got.collect()}
        assert rows == {1: None, 2: None, 3: "en"}
        # time travel to v1 keeps the OLD schema
        v1 = S.read_snapshot(spark, t, version=1)
        assert sorted(v1.columns) == ["doc_id", "text"]

    def test_missing_column_on_append_is_nulled(self, spark, tmp_path):
        import pandas as pd
        t = str(tmp_path / "tbl")
        S.commit_snapshot(spark.createDataFrame(pd.DataFrame({
            "doc_id": [1], "text": ["a"], "lang": ["en"]})), t)
        S.commit_snapshot(_df(spark, [2]), t, mode="append")  # no lang
        rows = {r.doc_id: r.lang
                for r in S.read_snapshot(spark, t).collect()}
        assert rows == {1: "en", 2: None}

    def test_type_change_rejected(self, spark, tmp_path):
        import pandas as pd
        t = str(tmp_path / "tbl")
        S.commit_snapshot(_df(spark, [1]), t)
        bad = spark.createDataFrame(pd.DataFrame(
            {"doc_id": ["not-an-int"], "text": ["x"]}))
        with pytest.raises(S.SchemaEvolutionError):
            S.commit_snapshot(bad, t, mode="append")
        # rejected before its data is written: no orphan dir to expire
        assert len(os.listdir(os.path.join(t, "data"))) == 1
