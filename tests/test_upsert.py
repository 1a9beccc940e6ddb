"""Upsert property tests (SURVEY.md §5.2 item 2): idempotence,
last-write-wins ordering, commutativity of disjoint keys, compaction
invariance — the guarantees the reference gets from Postgres
``ON CONFLICT`` (dags/etl.py:66-121)."""

from __future__ import annotations

import pytest

from pyspark.sql import Row

from data_engineer_project_weather_analytics_spark.operators.upsert import (
    UpsertTable,
    insert_if_absent,
    latest_write_wins,
    stamp_batch,
)


def _rows(spark, data):
    return spark.createDataFrame([Row(city_id=c, dt=d, temp=t) for c, d, t in data])


def _latest_dict(df):
    return {(r.city_id, r.dt): r.temp for r in df.collect()}


@pytest.fixture()
def table(spark, tmp_path):
    return UpsertTable(spark, str(tmp_path / "t"), keys=["city_id", "dt"])


def test_last_write_wins(spark, table):
    table.append_batch(_rows(spark, [(1, 10, 20.0), (2, 10, 21.0)]))
    table.append_batch(_rows(spark, [(1, 10, 25.0)]))  # re-delivery, new value
    assert _latest_dict(table.read_latest()) == {(1, 10): 25.0, (2, 10): 21.0}


def test_idempotence_reapply_same_batch(spark, table):
    batch = _rows(spark, [(1, 10, 20.0), (2, 10, 21.0)])
    table.append_batch(batch)
    before = _latest_dict(table.read_latest())
    table.append_batch(batch)  # replay — same data, later seq
    assert _latest_dict(table.read_latest()) == before


def test_disjoint_keys_commute(spark, tmp_path):
    a = _rows(spark, [(1, 10, 20.0)])
    b = _rows(spark, [(2, 10, 21.0)])
    t1 = UpsertTable(spark, str(tmp_path / "ab"), keys=["city_id", "dt"])
    t1.append_batch(a)
    t1.append_batch(b)
    t2 = UpsertTable(spark, str(tmp_path / "ba"), keys=["city_id", "dt"])
    t2.append_batch(b)
    t2.append_batch(a)
    assert _latest_dict(t1.read_latest()) == _latest_dict(t2.read_latest())


def test_within_batch_duplicates_single_survivor(spark):
    # one batch re-delivering the same key twice → exactly one survivor
    df = stamp_batch(_rows(spark, [(1, 10, 20.0), (1, 10, 22.0)]), 0)
    out = latest_write_wins(df, keys=["city_id", "dt"], tiebreak=["temp"])
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0].temp == 22.0  # deterministic via tiebreak


def test_compaction_preserves_view(spark, table):
    table.append_batch(_rows(spark, [(1, 10, 20.0), (2, 10, 21.0)]))
    table.append_batch(_rows(spark, [(1, 10, 25.0), (3, 11, 19.0)]))
    before = _latest_dict(table.read_latest())
    table.compact()
    assert _latest_dict(table.read_latest()) == before
    # compaction actually shrank the raw store to the canonical set
    assert table.read_raw().count() == len(before)
    # and upserts keep working afterwards
    table.append_batch(_rows(spark, [(1, 10, 30.0)]))
    assert _latest_dict(table.read_latest())[(1, 10)] == 30.0


def test_append_sequence_numbers_survive_reopen_and_foreign_compaction(spark, tmp_path):
    """The writer remembers its next ingest_seq instead of scanning for
    it; a fresh instance and a generation compacted by another
    instance still fall back to the scan, so newer writes keep
    winning."""
    path = str(tmp_path / "seq")
    keys = ["city_id", "dt"]
    w = UpsertTable(spark, path, keys=keys)
    assert [w.append_batch(_rows(spark, [(1, 10, t)])) for t in (1.0, 2.0, 3.0)] == [0, 1, 2]
    assert _latest_dict(w.read_latest()) == {(1, 10): 3.0}

    # a second instance on the same path continues at max + 1
    reopened = UpsertTable(spark, path, keys=keys)
    assert reopened.append_batch(_rows(spark, [(1, 10, 4.0)])) == 3
    assert _latest_dict(reopened.read_latest()) == {(1, 10): 4.0}

    # another instance compacts (snapshot restamped at seq 0): the
    # writer's next append must still beat the compacted rows
    UpsertTable(spark, path, keys=keys).compact()
    assert w.append_batch(_rows(spark, [(1, 10, 5.0)])) == 1
    assert _latest_dict(w.read_latest()) == {(1, 10): 5.0}

    # an explicit seq above the remembered one moves it up
    assert w.append_batch(_rows(spark, [(1, 10, 6.0)]), seq=10) == 10
    assert w.append_batch(_rows(spark, [(1, 10, 7.0)])) == 11
    # ... and one below it does not move it down
    assert w.append_batch(_rows(spark, [(2, 10, 1.0)]), seq=0) == 0
    assert w.append_batch(_rows(spark, [(1, 10, 8.0)])) == 12
    assert _latest_dict(w.read_latest()) == {(1, 10): 8.0, (2, 10): 1.0}


@pytest.mark.parametrize("failure", ["raises", "returns_false"])
def test_compact_records_failed_cleanup(spark, table, monkeypatch, failure):
    """A retired generation that cannot be deleted must not fail the
    compaction (readers never see it) but must not vanish silently
    either: the path is recorded and a warning is emitted."""
    table.append_batch(_rows(spark, [(1, 10, 20.0)]))
    table.append_batch(_rows(spark, [(1, 10, 25.0)]))
    real_fs = UpsertTable._fs

    class FailingDelete:
        def __init__(self, fs, jvm):
            self._fs, self._jvm = fs, jvm

        def delete(self, path, recursive):
            if failure == "returns_false":
                return False
            # a genuine JVM IOException surfacing through Py4J
            self._jvm.java.io.FileInputStream(f"{table.path}/no-such-file")

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def failing_fs(self):
        fs, jvm = real_fs(self)
        return FailingDelete(fs, jvm), jvm

    monkeypatch.setattr(UpsertTable, "_fs", failing_fs)
    with pytest.warns(RuntimeWarning, match="cleanup left"):
        table.compact()
    monkeypatch.setattr(UpsertTable, "_fs", real_fs)

    assert table._generation() == 1  # committed despite the failed cleanup
    assert _latest_dict(table.read_latest()) == {(1, 10): 25.0}
    assert table.cleanup_failures == [
        f"{table.path}/_committed_0",
        f"{table.path}/gen=0",
    ]


def test_insert_if_absent_first_write_wins(spark):
    existing = _rows(spark, [(1, 10, 20.0)])
    batch = _rows(spark, [(1, 10, 99.0), (2, 10, 21.0)])
    out = insert_if_absent(existing, batch, keys=["city_id", "dt"])
    assert _latest_dict(out) == {(1, 10): 20.0, (2, 10): 21.0}


def test_compact_retires_old_generation(spark, table):
    import os

    table.append_batch(_rows(spark, [(1, 10, 20.0)]))
    table.compact()
    assert not os.path.exists(os.path.join(table.path, "gen=0"))
    assert not os.path.exists(os.path.join(table.path, "_committed_0"))
    assert os.path.exists(os.path.join(table.path, "_committed_1"))


def test_compact_crash_before_commit_leaves_readers_whole(spark, table, monkeypatch):
    """Kill the compaction at the worst moment — snapshot fully written
    but the commit marker not yet created — and readers must still see
    the complete pre-compaction canonical view; a retried compact then
    succeeds over the debris."""
    table.append_batch(_rows(spark, [(1, 10, 20.0), (2, 10, 21.0)]))
    table.append_batch(_rows(spark, [(1, 10, 25.0)]))
    before = _latest_dict(table.read_latest())

    original = UpsertTable._commit_generation

    def crash(self, n):
        raise RuntimeError("simulated crash before commit marker")

    monkeypatch.setattr(UpsertTable, "_commit_generation", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        table.compact()
    # gen=1 data exists on disk but is uncommitted → invisible
    assert _latest_dict(table.read_latest()) == before
    assert table._generation() == 0

    monkeypatch.setattr(UpsertTable, "_commit_generation", original)
    table.compact()  # retry clobbers the debris and commits
    assert _latest_dict(table.read_latest()) == before
    assert table._generation() == 1
    assert table.read_raw().count() == len(before)


def test_time_travel_reads_retained_generations(spark, tmp_path):
    """A generation freezes when a compaction retires it, so reading a
    retained generation is 'the table as of that compaction' — appends
    made afterwards live in the successor generation only."""
    t = UpsertTable(
        spark, str(tmp_path / "tt"), keys=["city_id", "dt"], keep_generations=2
    )
    t.append_batch(_rows(spark, [(1, 10, 20.0), (2, 10, 21.0)]))
    t.compact()  # retires gen 0 (retained)
    t.append_batch(_rows(spark, [(1, 10, 25.0), (3, 11, 19.0)]))
    t.compact()  # retires gen 1 (retained), expires gen 0
    t.append_batch(_rows(spark, [(1, 10, 30.0)]))  # post-snapshot write
    assert t.generations() == [1, 2]

    # live view vs snapshot AS OF the last compaction
    assert _latest_dict(t.read_latest()) == {
        (1, 10): 30.0,
        (2, 10): 21.0,
        (3, 11): 19.0,
    }
    assert _latest_dict(t.read_latest(generation=1)) == {
        (1, 10): 25.0,
        (2, 10): 21.0,
        (3, 11): 19.0,
    }

    # expired and never-committed generations refuse loudly
    with pytest.raises(FileNotFoundError, match="not committed/retained"):
        t.read_raw(generation=0)
    with pytest.raises(FileNotFoundError, match="not committed/retained"):
        t.read_raw(generation=99)


def test_default_retention_keeps_single_generation(spark, table):
    table.append_batch(_rows(spark, [(1, 10, 20.0)]))
    table.compact()
    table.compact()
    assert table.generations() == [2]


def test_concurrent_writers_compactor_crash_interleaving(spark, tmp_path):
    """The marker protocol under real thread interleaving: two writer
    threads appending batches, a compactor thread whose SECOND
    compaction crashes between the snapshot write and the marker
    creation, and a reader thread polling read_latest() the whole
    time.  Invariants: every read succeeds against a complete
    committed generation, every value read is one that was actually
    written for that key (no torn/partial state), and the crashed
    compaction leaves no marker — the next compact clobbers its
    debris.  keep_generations=2 is the concurrent-reader retention
    window: the just-retired generation survives one more cycle, so a
    reader that resolved the live generation just before a commit can
    still finish its scan."""
    import threading
    import time

    path = str(tmp_path / "race")
    # one instance per role: the crash is injected into the compactor's
    # instance only (writers share one instance behind a lock — the
    # store is single-writer by contract; the lock models batch
    # serialization upstream, NOT protection for the marker protocol)
    wtable = UpsertTable(spark, path, keys=["city_id", "dt"], keep_generations=2)
    ctable = UpsertTable(spark, path, keys=["city_id", "dt"], keep_generations=2)
    rtable = UpsertTable(spark, path, keys=["city_id", "dt"], keep_generations=2)

    def batch(seq):
        return _rows(spark, [(k, 10, float(seq * 1000 + k)) for k in range(10)])

    wtable.append_batch(batch(0), seq=0)  # seed: gen 0 committed

    write_lock = threading.Lock()
    errors: list[BaseException] = []
    crash_seen = threading.Event()
    done = threading.Event()

    orig_commit = ctable._commit_generation
    calls = {"n": 0}

    def flaky_commit(n):
        calls["n"] += 1
        if calls["n"] == 2:
            crash_seen.set()
            raise RuntimeError("injected crash before commit marker")
        orig_commit(n)

    ctable._commit_generation = flaky_commit

    def writer(seqs):
        try:
            for s in seqs:
                with write_lock:
                    wtable.append_batch(batch(s), seq=s)
                time.sleep(0.05)
        except BaseException as e:  # noqa: BLE001 — surface in main thread
            errors.append(e)

    def compactor():
        crashes = 0
        try:
            for _ in range(4):
                try:
                    ctable.compact()
                except RuntimeError as e:
                    assert "injected crash" in str(e)
                    crashes += 1
                time.sleep(0.05)
            assert crashes == 1
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def reader():
        try:
            while not done.is_set():
                rows = rtable.read_latest().collect()
                assert rows, "reader saw an empty canonical view"
                for r in rows:
                    # value encodes (seq, key): any torn state breaks this
                    assert r.temp == float(int(r.temp) // 1000 * 1000 + r.city_id), r
                assert len({r.city_id for r in rows}) == len(rows)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=([1, 3, 5],)),
        threading.Thread(target=writer, args=([2, 4, 6],)),
        threading.Thread(target=compactor),
    ]
    rt = threading.Thread(target=reader)
    rt.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    done.set()
    rt.join(timeout=60)
    assert not errors, errors
    assert crash_seen.is_set()

    # the injected crash must not have committed its generation: every
    # committed generation directory is complete and readable
    gens = rtable.generations()
    assert gens, "no committed generation survived"
    for g in gens:
        rtable.read_latest(generation=g).collect()
    # post-race recovery: a clean compact clobbers the crash debris and
    # the canonical view still satisfies the value invariant
    fresh = UpsertTable(spark, path, keys=["city_id", "dt"], keep_generations=2)
    fresh.compact()
    final = {r.city_id: r.temp for r in fresh.read_latest().collect()}
    for k, v in final.items():
        seq = int(v) // 1000
        assert v == float(seq * 1000 + k)
        assert 0 <= seq <= 6
