"""Versioned-table invariants: snapshot isolation, time travel, optimistic
concurrency, crash invisibility, vacuum safety."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import versioned_table as VT


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df0 = spark.range(5).select(F.col("id"), F.lit("v0").alias("tag"))
    assert VT.create(df0, path) == 0
    return path


def test_append_time_travel_and_overwrite(spark, table):
    assert VT.append(spark.range(5, 8).select(
        F.col("id"), F.lit("v1").alias("tag")), table) == 1
    assert VT.read(spark, table).count() == 8
    assert VT.read(spark, table, version=0).count() == 5
    assert {r["tag"] for r in VT.read(spark, table, version=0).collect()} \
        == {"v0"}
    assert VT.overwrite(spark.range(2).select(
        F.col("id"), F.lit("v2").alias("tag")), table) == 2
    assert VT.read(spark, table).count() == 2
    assert VT.read(spark, table, version=1).count() == 8  # still readable
    assert VT.versions(table) == [0, 1, 2]


def test_snapshot_isolation_under_concurrent_publish(spark, table):
    """A reader plan resolved at v0 is unaffected by a later append: the
    manifest pins the file list."""
    snapshot = VT.read(spark, table, version=0)
    VT.append(spark.range(100, 200).select(
        F.col("id"), F.lit("v1").alias("tag")), table)
    assert snapshot.count() == 5  # re-executed AFTER the append: still v0


def test_optimistic_concurrency_conflict(spark, table):
    df = spark.range(3).select(F.col("id"), F.lit("x").alias("tag"))
    VT.append(df, table)  # table moves to v1
    with pytest.raises(VT.ConcurrentWriteError):
        VT.append(df, table, expected_version=0)  # lost the race
    assert VT.current_version(table) == 1
    assert VT.versions(table) == [0, 1]  # loser's manifest rolled back


def test_half_staged_commit_is_invisible(spark, table):
    """Files staged without a published manifest are never read."""
    VT._stage(spark.range(50).select(
        F.col("id"), F.lit("crash").alias("tag")), table, 99)
    assert VT.read(spark, table).count() == 5
    assert VT.current_version(table) == 0


def test_vacuum_keeps_current_drops_old(spark, table):
    VT.append(spark.range(5, 8).select(
        F.col("id"), F.lit("v1").alias("tag")), table)
    VT.overwrite(spark.range(4).select(
        F.col("id"), F.lit("v2").alias("tag")), table)
    dead = VT.vacuum(table, keep_last=1)
    assert dead  # v0's files are unreferenced by v2 and got removed
    assert all(not os.path.exists(f) for f in dead)
    assert VT.versions(table) == [2]
    assert VT.read(spark, table).count() == 4
    with pytest.raises(FileNotFoundError):
        VT.read_manifest(table, 0)


def test_streaming_append_exactly_once(spark, tmp_path):
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import load_table

    events = load_table(spark, "events", "/root/testdata/sf0.001")
    src = str(tmp_path / "landing")
    events.repartition(2).write.parquet(src)

    path = str(tmp_path / "tbl")
    VT.create(events.limit(0), path)  # empty v0, schema-bearing
    q = VT.start_append_stream(spark, src, events.schema, path,
                               str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert VT.current_version(path) >= 2       # one snapshot per microbatch
    assert VT.read(spark, path).count() == events.count()

    # redelivered epoch is a no-op (manifest chain carries the epoch)
    v_before = VT.current_version(path)
    assert VT.append(events.limit(3), path, epoch=0) is None
    assert VT.current_version(path) == v_before
    assert VT.read(spark, path).count() == events.count()


def test_zone_map_pruning_skips_files_and_matches_full_scan(spark, tmp_path):
    """read_pruned drops files whose footer min/max exclude the range and
    still returns exactly the rows a full scan + filter would."""
    path = str(tmp_path / "tbl")
    lo = spark.range(0, 100).select(F.col("id"), F.lit("lo").alias("tag"))
    hi = spark.range(1000, 1100).select(F.col("id"), F.lit("hi").alias("tag"))
    VT.create(lo.coalesce(1), path)
    VT.append(hi.coalesce(1), path)

    df, total, kept = VT.read_pruned(spark, path, "id", 1000, 1049)
    assert total == 2 and kept == 1          # the lo file never opened
    assert df.count() == 50
    full = VT.read(spark, path).filter(F.col("id").between(1000, 1049))
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, full.collect()))

    none_df, total2, kept2 = VT.read_pruned(spark, path, "id", 5000, 6000)
    assert kept2 == 0 and none_df.count() == 0


def test_transactional_merge_upserts(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = spark.range(5).select(F.col("id"), F.lit("old").alias("tag"))
    VT.create(base, path)
    updates = spark.createDataFrame(
        [(3, "new"), (4, "new"), (99, "new")], "id LONG, tag STRING")
    VT.merge_keys(spark, updates, path, key="id")
    got = {r["id"]: r["tag"] for r in VT.read(spark, path).collect()}
    assert got == {0: "old", 1: "old", 2: "old",
                   3: "new", 4: "new", 99: "new"}
    # old snapshot still shows pre-merge state
    assert {r["tag"] for r in VT.read(spark, path, version=0).collect()} \
        == {"old"}


def test_bloom_point_lookup_skips_files(spark, tmp_path):
    """Manifest blooms skip files that cannot contain the key; a present
    key still reads its file and returns the row."""
    path = str(tmp_path / "tbl")
    VT.create(spark.range(0, 100).select(
        F.col("id"), F.lit("a").alias("tag")).coalesce(1), path)
    VT.append(spark.range(1000, 1100).select(
        F.col("id"), F.lit("b").alias("tag")).coalesce(1), path)
    v = VT.current_version(path)
    assert VT.build_blooms(spark, path, v, "id") == 2

    df, total, kept = VT.read_point(spark, path, "id", 1042)
    assert total == 2 and kept == 1
    assert [r["tag"] for r in df.collect()] == ["b"]

    # absent key: typically every file is skipped (false-positive rate
    # at 200 keys / 8192 bits is ~0); at minimum the result is empty
    miss, _, kept_miss = VT.read_point(spark, path, "id", 555)
    assert miss.count() == 0 and kept_miss <= 1

    # files without blooms are kept (safe side)
    VT.append(spark.range(7, 9).select(
        F.col("id"), F.lit("c").alias("tag")).coalesce(1), path)
    df2, total2, kept2 = VT.read_point(spark, path, "id", 7)
    assert total2 == 3 and kept2 == 2  # bloomed old file + unbloomed new
    assert {r["tag"] for r in df2.collect()} == {"a", "c"}


def test_table_changes_between_snapshots(spark, tmp_path):
    path = str(tmp_path / "tbl")
    VT.create(spark.range(5).select(
        F.col("id"), F.lit("old").alias("tag")), path)
    VT.merge_keys(spark, spark.createDataFrame(
        [(3, "new"), (99, "new")], "id LONG, tag STRING"), path, key="id")
    feed = {(r["id"], r["tag"], r["_change"])
            for r in VT.table_changes(spark, path, 0,
                                      VT.current_version(path)).collect()}
    assert feed == {(3, "old", "delete"), (3, "new", "insert"),
                    (99, "new", "insert")}
    # identical snapshots -> empty feed
    assert VT.table_changes(spark, path, 0, 0).count() == 0


def test_compact_clustered_rewrite_sharpens_pruning(spark, tmp_path):
    """Clustered compaction gives each file a disjoint key range, so a
    range probe reads ~1 file; row content is unchanged and the
    pre-compaction snapshot stays readable."""
    path = str(tmp_path / "tbl")
    # interleaved appends: every file spans the whole key range
    VT.create(spark.range(0, 1000, 2).select(
        F.col("id"), (F.col("id") % 7).alias("v")).coalesce(1), path)
    VT.append(spark.range(1, 1000, 2).select(
        F.col("id"), (F.col("id") % 7).alias("v")).coalesce(1), path)
    _, total0, kept0 = VT.read_pruned(spark, path, "id", 100, 149)
    assert total0 == kept0 == 2            # zone maps useless: full overlap

    v = VT.compact(spark, path, target_files=4, cluster_by="id")
    df, total1, kept1 = VT.read_pruned(spark, path, "id", 100, 149)
    assert total1 == 4 and kept1 == 1      # disjoint ranges after rewrite
    assert df.count() == 50
    assert VT.read(spark, path, v).count() == 1000
    assert VT.read(spark, path, v - 1).count() == 1000  # old layout lives
    assert VT.read_manifest(path, v)["op"] == "compact"


def test_incremental_aggregate_matches_recompute(spark, tmp_path):
    """The CDC-maintained (count, sum) aggregate equals a fresh recompute
    after appends AND a merge (update = delete+insert), and a no-change
    refresh is a no-op."""
    path = str(tmp_path / "tbl")
    VT.create(spark.range(10).select(
        (F.col("id") % 3).alias("g"), F.col("id").cast("double").alias("x")),
        path)
    state = VT.bootstrap_aggregate(spark, path, "g", "x")

    VT.append(spark.range(10, 16).select(
        (F.col("id") % 3).alias("g"), F.col("id").cast("double").alias("x")),
        path)
    VT.merge_keys(spark, spark.range(3).select(
        (F.lit(0)).cast("long").alias("g"),
        F.lit(500.0).alias("x")), path, key="g")  # replaces ALL g=0 rows
    state = VT.refresh_aggregate(spark, path, state, "g", "x")

    want = {r["g"]: [r["n"], float(r["s"])]
            for r in VT.read(spark, path).groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
            .collect()}
    assert state["rows"] == want
    assert state["version"] == VT.current_version(path)
    # idempotent when nothing changed
    again = VT.refresh_aggregate(spark, path, state, "g", "x")
    assert again == state


def test_merge_on_read_delete_vectors(spark, tmp_path):
    """delete_keys hides rows at read without rewriting data; time travel
    still shows them; appends keep the deletes in effect; compaction
    materializes survivors and clears the vectors."""
    path = str(tmp_path / "tbl")
    VT.create(spark.range(10).select(
        F.col("id"), F.lit("a").alias("tag")).coalesce(1), path)
    data_before = VT.read_manifest(path, 0)["files"]

    v1 = VT.delete_keys(spark, path, "id",
                        spark.createDataFrame([(3,), (7,)], "id LONG"))
    assert VT.read_manifest(path, v1)["files"] == data_before  # no rewrite
    assert {r["id"] for r in VT.read(spark, path).collect()} \
        == set(range(10)) - {3, 7}
    assert VT.read(spark, path, version=0).count() == 10  # time travel

    VT.append(spark.range(20, 23).select(
        F.col("id"), F.lit("b").alias("tag")), path)
    got = {r["id"] for r in VT.read(spark, path).collect()}
    assert got == (set(range(10)) - {3, 7}) | {20, 21, 22}

    v3 = VT.compact(spark, path, target_files=1)
    assert "delete_vectors" not in VT.read_manifest(path, v3)
    assert {r["id"] for r in VT.read(spark, path).collect()} == got

    dead = VT.vacuum(path, keep_last=1)
    assert VT.read(spark, path).count() == len(got)
    assert dead  # pre-compaction data AND delete files collected


def test_manifest_row_counts_zero_jobs(spark, tmp_path):
    """count_rows answers from footer stats in the manifest; pending
    delete vectors disable it (only a data read can subtract them)."""
    path = str(tmp_path / "tbl")
    VT.create(spark.range(7).select(
        F.col("id"), F.lit("a").alias("tag")), path)
    VT.append(spark.range(7, 12).select(
        F.col("id"), F.lit("b").alias("tag")), path)
    assert VT.count_rows(path, 0) == 7
    assert VT.count_rows(path) == 12 == VT.read(spark, path).count()
    VT.delete_keys(spark, path, "id", spark.createDataFrame([(1,)], "id LONG"))
    assert VT.count_rows(path) is None            # MOR deletes pending
    assert VT.read(spark, path).count() == 11
    VT.compact(spark, path)
    assert VT.count_rows(path) == 11              # materialized again


def test_zorder_compaction_prunes_both_dimensions(spark, tmp_path):
    """After Z-order compaction, a selective range probe on EITHER column
    skips files; 1-D clustering would only prune its own sort key."""
    path = str(tmp_path / "tbl")
    n = 4096
    df = spark.range(n).select(
        F.col("id").alias("a"),
        ((F.col("id") * 2654435761) % n).alias("b"))  # decorrelated dims
    VT.create(df, path)
    VT.compact_zorder(spark, path, "a", "b", target_files=16, bits=8)

    da, ta, ka = VT.read_pruned(spark, path, "a", 0, n // 16 - 1)
    db, tb, kb = VT.read_pruned(spark, path, "b", 0, n // 16 - 1)
    assert ta == tb == 16
    assert ka <= 8 and kb <= 8          # both dimensions prune
    # correctness: pruned results equal full-scan filters
    assert da.count() == df.filter(F.col("a") < n // 16).count()
    assert db.count() == df.filter(F.col("b") < n // 16).count()


def test_integrity_audit_detects_corruption(spark, tmp_path):
    path = str(tmp_path / "tbl")
    VT.create(spark.range(100).select(
        F.col("id"), F.lit("a").alias("tag")), path)
    VT.append(spark.range(100, 120).select(
        F.col("id"), F.lit("b").alias("tag")), path)
    rep = VT.verify_integrity(path)
    assert rep["corrupt"] == [] and rep["unchecked"] == []
    assert len(rep["ok"]) == len(VT.read_manifest(
        path, VT.current_version(path))["files"])
    # flip one byte mid-file: the audit must flag exactly that file
    victim = rep["ok"][0]
    data = bytearray(open(victim, "rb").read())
    data[len(data) // 2] ^= 0xFF
    open(victim, "wb").write(bytes(data))
    rep2 = VT.verify_integrity(path)
    assert rep2["corrupt"] == [victim]


def test_model_based_random_op_sequences(spark, tmp_path):
    """Model-based check: random append/merge/delete/compact sequences
    must keep read() equal to a driver-side dict model at every step
    (hypothesis-seeded sequences, deterministic replay)."""
    import random

    for seed in (7, 23):
        rng = random.Random(seed)
        path = str(tmp_path / f"tbl{seed}")
        model = {i: "base" for i in range(8)}
        VT.create(spark.createDataFrame(
            [(k, v) for k, v in model.items()], "id LONG, tag STRING"), path)
        next_id = 100
        for step in range(6):
            op = rng.choice(["append", "merge", "delete", "compact"])
            if op == "append":
                rows = [(next_id + j, f"s{step}") for j in range(rng.randint(1, 3))]
                next_id += 10
                VT.append(spark.createDataFrame(rows, "id LONG, tag STRING"), path)
                model.update(dict(rows))
            elif op == "merge":
                keys = rng.sample(sorted(model), k=min(2, len(model)))
                rows = [(k, f"m{step}") for k in keys]
                VT.merge_keys(spark, spark.createDataFrame(
                    rows, "id LONG, tag STRING"), path, key="id")
                model.update(dict(rows))
            elif op == "delete" and model:
                keys = rng.sample(sorted(model), k=min(2, len(model)))
                VT.delete_keys(spark, path, "id", spark.createDataFrame(
                    [(k,) for k in keys], "id LONG"))
                for k in keys:
                    model.pop(k)
            else:
                VT.compact(spark, path, target_files=2)
            got = {r["id"]: r["tag"] for r in VT.read(spark, path).collect()}
            assert got == model, f"seed {seed} step {step} op {op}"
        assert VT.verify_integrity(path)["corrupt"] == []


def test_streaming_replay_skips_after_vacuum(spark, tmp_path):
    """ADVICE r5: replay detection must survive vacuum — the bounded
    recent_epochs set rides the head manifest, so no parent-chain walk
    (which vacuum severs) happens, and a redelivered epoch is still a
    no-op after old manifests are gone."""
    path = str(tmp_path / "tbl")
    df = spark.range(3).select(F.col("id"), F.lit("x").alias("tag"))
    VT.create(df, path)
    assert VT.append(df, path, epoch=0) == 1
    assert VT.append(df, path, epoch=1) == 2
    VT.vacuum(path, keep_last=1)
    assert VT.versions(path) == [2]
    # replayed epochs: detected from the head manifest alone
    assert VT.append(df, path, epoch=0) is None
    assert VT.append(df, path, epoch=1) is None
    # a genuinely new epoch still appends
    assert VT.append(df, path, epoch=2) == 3
    assert VT.read(spark, path).count() == 12


def test_epoch_memory_survives_other_ops(spark, tmp_path):
    """recent_epochs carries across non-epoch commits (compact/append),
    so a maintenance rewrite can't reopen the replay window."""
    path = str(tmp_path / "tbl")
    df = spark.range(4).select(F.col("id"), F.lit("x").alias("tag"))
    VT.create(df, path)
    VT.append(df, path, epoch=7)
    VT.compact(spark, path, target_files=1)
    VT.append(df, path)
    assert VT.append(df, path, epoch=7) is None


def test_abandoned_claim_does_not_wedge_table(spark, tmp_path):
    """ADVICE r5: a writer crash between manifest write and pointer swap
    used to wedge the table forever ('version N already claimed'). An
    unswung manifest ahead of the pointer is an abandoned claim: the next
    writer replaces it and publishes normally."""
    import json

    path = str(tmp_path / "tbl")
    VT.create(spark.range(3).select(
        F.col("id"), F.lit("x").alias("tag")), path)
    # simulate the crash: v1 manifest exists, pointer still at 0
    crash = {"version": 1, "parent": 0, "op": "append", "files": [],
             "commit_id": "dead"}
    with open(VT._manifest_path(path, 1), "w") as f:
        json.dump(crash, f)
    assert VT.current_version(path) == 0
    v = VT.append(spark.range(3, 6).select(
        F.col("id"), F.lit("y").alias("tag")), path)
    assert v == 1
    assert VT.current_version(path) == 1
    assert VT.read(spark, path).count() == 6
    # while a genuinely committed version still refuses a duplicate claim
    with pytest.raises(VT.ConcurrentWriteError):
        VT.append(spark.range(3).select(
            F.col("id"), F.lit("z").alias("tag")), path, expected_version=0)


def test_build_blooms_is_atomic(spark, tmp_path, monkeypatch):
    """ADVICE r5: build_blooms must never tear the live manifest — a
    crash mid-write leaves the original intact (temp + os.replace)."""
    path = str(tmp_path / "tbl")
    VT.create(spark.range(50).select(
        F.col("id"), F.lit("x").alias("tag")), path)
    before = open(VT._manifest_path(path, 0)).read()

    real_dump = VT.json.dump

    def exploding_dump(obj, fh, *a, **k):
        fh.write('{"torn": ')
        raise RuntimeError("crash mid-write")

    monkeypatch.setattr(VT.json, "dump", exploding_dump)
    with pytest.raises(RuntimeError):
        VT.build_blooms(spark, path, 0, "id")
    monkeypatch.setattr(VT.json, "dump", real_dump)
    # the live manifest is byte-identical; readers never saw the tear
    assert open(VT._manifest_path(path, 0)).read() == before
    assert VT.read(spark, path).count() == 50


def test_bloom_probe_value_normalization(spark, tmp_path):
    """ADVICE r5: probing with a Python bool/float must hash the same
    rendering the bloom was built from (engine-side CAST AS STRING), so
    a present key is never silently bloom-skipped."""
    path = str(tmp_path / "tbl")
    df = spark.range(40).select(
        F.col("id"), (F.col("id") % 2 == 0).alias("flag"),
        (F.col("id") / 4.0).alias("score"))
    VT.create(df.repartition(4), path)
    VT.build_blooms(spark, path, 0, "flag")
    got, total, read_n = VT.read_point(spark, path, "flag", True)
    assert got.count() == 20  # str(True)='True' would bloom-skip all files
    VT.build_blooms(spark, path, 0, "score")
    got2, _, _ = VT.read_point(spark, path, "score", 2.5)
    assert got2.count() == 1


def test_commit_checksums_computed_in_cluster(spark, tmp_path, monkeypatch):
    """Round-6 task 5: commit-time checksums of staged files come from a
    distributed pass, not a driver-side read of every byte — the driver
    fallback must never see multi-file staged commits."""
    path = str(tmp_path / "tbl")
    seen_driver_side: list[list[str]] = []
    real = VT._checksums

    def spy(files):
        seen_driver_side.append(list(files))
        return real(files)

    monkeypatch.setattr(VT, "_checksums", spy)
    df = spark.range(1000).select(F.col("id"), F.lit("x").alias("tag"))
    VT.create(df.repartition(6), path)
    VT.append(df.repartition(4), path)
    # every driver-side call was for <=1 file (the distributed path's own
    # trivial fallback); the 6- and 4-file stages went through the cluster
    assert all(len(fs) <= 1 for fs in seen_driver_side)
    m = VT.read_manifest(path, 1)
    assert len(m["checksums"]) == 10
    rep = VT.verify_integrity(path, spark=spark)  # distributed audit mode
    assert rep["corrupt"] == [] and rep["unchecked"] == []


def test_schema_evolution_add_column(spark, table):
    """append_evolve adds a column without rewriting any existing file;
    pre-evolution rows read as NULL, time travel keeps the old schema."""
    m0_files = set(VT.read_manifest(table, 0)["files"])
    newer = spark.range(5, 8).select(
        F.col("id"), F.lit("v1").alias("tag"), F.lit(7).alias("score"))
    v = VT.append_evolve(newer, table)
    m1 = VT.read_manifest(table, v)
    assert m0_files <= set(m1["files"])  # every original file carried
    cur = VT.read(spark, table)
    assert cur.columns == ["id", "tag", "score"]
    assert cur.filter(F.col("score").isNull()).count() == 5
    assert cur.filter(F.col("score") == 7).count() == 3
    # time travel: version 0 still reads with its original schema
    assert VT.read(spark, table, version=0).columns == ["id", "tag"]
    assert VT.table_schema(table, 0).names == ["id", "tag"]
    assert VT.table_schema(table).names == ["id", "tag", "score"]


def test_schema_evolution_guards(spark, table):
    # undeclared drift through plain append is refused, and a refused
    # stream batch does not record its epoch
    drift = spark.range(3).select(
        F.col("id"), F.lit("x").alias("tag"), F.lit(1).alias("sneaky"))
    with pytest.raises(VT.SchemaEvolutionError, match="drift"):
        VT.append(drift, table)
    with pytest.raises(VT.SchemaEvolutionError, match="drift"):
        VT.append(drift, table, epoch=5)
    assert not VT.epoch_committed(table, 5)
    assert VT.current_version(table) == 0
    # retyping an existing column is refused
    with pytest.raises(VT.SchemaEvolutionError, match="type conflict"):
        VT.append_evolve(spark.range(3).select(
            F.col("id").cast("string"), F.lit("x").alias("tag")), table)


def test_schema_evolution_drop_is_metadata_only(spark, table):
    m_before = VT.read_manifest(table, 0)
    v = VT.drop_column(table, "tag")
    m_after = VT.read_manifest(table, v)
    assert m_after["files"] == m_before["files"]  # zero data I/O
    assert VT.read(spark, table).columns == ["id"]
    # the dropped name is tombstoned: re-adding can't resurrect old values
    with pytest.raises(VT.SchemaEvolutionError, match="resurrect"):
        VT.append_evolve(spark.range(3).select(
            F.col("id"), F.lit("zombie").alias("tag")), table)
    # appends under the narrowed schema must not carry the column either
    with pytest.raises(VT.SchemaEvolutionError, match="drift"):
        VT.append(spark.range(3).select(
            F.col("id"), F.lit("x").alias("tag")), table)
    assert VT.append(spark.range(10, 12).select("id"), table) == v + 1
    assert VT.read(spark, table).count() == 7
    # time travel still sees the pre-drop world
    assert VT.read(spark, table, version=0).columns == ["id", "tag"]


def test_schema_evolution_survives_merge_and_compact(spark, table):
    VT.append_evolve(spark.range(5, 8).select(
        F.col("id"), F.lit("v1").alias("tag"),
        F.lit(7).alias("score")), table)
    upd = spark.range(2, 4).select(
        F.col("id"), F.lit("merged").alias("tag"),
        F.lit(99).alias("score"))
    VT.merge_keys(spark, upd, table, key="id")
    cur = VT.read(spark, table)
    assert cur.count() == 8
    assert cur.filter(F.col("score") == 99).count() == 2
    # compact materializes the evolved schema and keeps the declaration
    VT.compact(spark, table, target_files=1)
    cur2 = VT.read(spark, table)
    assert cur2.columns == ["id", "tag", "score"]
    assert cur2.count() == 8
    assert cur2.filter(F.col("score").isNull()).count() == 3  # 5 - 2 merged


def test_overwrite_clears_drop_tombstones(spark, table):
    VT.drop_column(table, "tag")
    VT.overwrite(spark.range(4).select(
        F.col("id"), F.lit("fresh").alias("tag")), table)
    # no pre-drop file survives an overwrite, so the name is reusable
    cur = VT.read(spark, table)
    assert cur.columns == ["id", "tag"]
    assert {r["tag"] for r in cur.collect()} == {"fresh"}


def test_merge_keys_rejects_schema_drift(spark, table):
    with pytest.raises(VT.SchemaEvolutionError, match="drift"):
        VT.merge_keys(spark, spark.range(2).select(
            F.col("id"), F.lit("x").alias("tag"),
            F.lit(1).alias("sneaky")), table, key="id")


def test_compact_establishes_schema_and_frees_dropped_names(spark, table):
    VT.drop_column(table, "tag")
    VT.compact(spark, table, target_files=1)
    # the rewrite physically removed the column, so the name is reusable
    v = VT.append_evolve(spark.range(10, 12).select(
        F.col("id"), F.lit("reborn").alias("tag")), table)
    cur = VT.read(spark, table)
    assert cur.columns == ["id", "tag"]
    assert cur.filter(F.col("tag") == "reborn").count() == 2
    # pre-compaction rows never leak old tag values through the re-add
    assert cur.filter(F.col("tag").isNotNull()).count() == 2
    assert VT.read_manifest(table, v)["dropped_columns"] == []


def test_append_evolve_refuses_legacy_tables(spark, tmp_path):
    """A pre-schema-tracking manifest must not be silently narrowed."""
    path = str(tmp_path / "legacy")
    VT.create(spark.range(3).select("id"), path)
    # simulate a legacy manifest: strip the schema declaration
    import json as _json
    mp = VT._manifest_path(path, 0)
    m = _json.load(open(mp))
    m.pop("schema", None)
    _json.dump(m, open(mp, "w"))
    with pytest.raises(VT.SchemaEvolutionError, match="no schema"):
        VT.append_evolve(spark.range(3).select(
            "id", F.lit(1).alias("extra")), path)


def test_tags_pin_snapshots_and_survive_vacuum(spark, table):
    VT.tag(table, "baseline")                       # → v0
    VT.append(spark.range(5, 8).select(
        F.col("id"), F.lit("v1").alias("tag")), table)
    VT.overwrite(spark.range(4).select(
        F.col("id"), F.lit("v2").alias("tag")), table)
    assert VT.list_tags(table) == {"baseline": 0}
    assert VT.read_tag(spark, table, "baseline").count() == 5
    # vacuum keeps the tagged v0 (and its files) while dropping v1
    VT.vacuum(table, keep_last=1)
    assert VT.versions(table) == [0, 2]
    assert VT.read_tag(spark, table, "baseline").count() == 5
    rep = VT.verify_integrity(table, 0)
    assert rep["corrupt"] == [] and rep["ok"]
    # delete the tag; the next vacuum reclaims v0
    VT.delete_tag(table, "baseline")
    VT.vacuum(table, keep_last=1)
    assert VT.versions(table) == [2]


def test_tag_moves_and_rejects_unknown(spark, table):
    VT.append(spark.range(5, 6).select(
        F.col("id"), F.lit("v1").alias("tag")), table)
    VT.tag(table, "release", version=0)
    VT.tag(table, "release")                        # re-tag → current (1)
    assert VT.version_for_tag(table, "release") == 1
    with pytest.raises(ValueError):
        VT.tag(table, "nope", version=99)
    with pytest.raises(ValueError):
        VT.version_for_tag(table, "absent")


def test_history_and_files_metadata_tables(spark, table):
    VT.append(spark.range(5, 8).select(
        F.col("id"), F.lit("v1").alias("tag")), table)
    VT.delete_keys(spark, table, "id",
                   spark.range(1).select(F.col("id")))
    h = {r["version"]: r for r in VT.history(spark, table).collect()}
    assert [h[v]["op"] for v in sorted(h)] == ["create", "append", "delete"]
    assert h[1]["parent"] == 0 and h[2]["parent"] == 1
    assert all(r["commit_id"] for r in h.values())
    # commit times are monotone over the chain
    times = [h[v]["committed_at"] for v in sorted(h)]
    assert times == sorted(times)
    f = VT.files_table(spark, table).collect()
    assert len(f) == h[2]["n_files"]
    for r in f:
        assert r["bytes"] and r["bytes"] > 0
        assert r["md5"] and len(r["md5"]) == 32
        assert r["zone_maps"] is not None


def test_merge_on_another_key_keeps_deleted_rows_deleted(spark, tmp_path):
    """The delete vectors are keyed on ``id``; a merge keyed on ``code``
    must still anti-join them on ``id`` before it clears them."""
    path = str(tmp_path / "tbl")
    VT.create(spark.range(10).select(
        F.col("id"), (F.col("id") + 100).alias("code")), path)
    VT.delete_keys(spark, path, "id",
                   spark.createDataFrame([(3,), (7,)], "id LONG"))
    VT.merge_keys(spark, spark.createDataFrame(
        [(50, 105)], "id LONG, code LONG"), path, key="code")
    assert sorted(r["id"] for r in VT.read(spark, path).collect()) \
        == [0, 1, 2, 4, 6, 8, 9, 50]


def test_merge_keeps_blooms_of_untouched_files(spark, tmp_path):
    """A file's bloom stays valid while the file is listed, so a lookup
    after a merge still skips the untouched file."""
    path = str(tmp_path / "tbl")
    VT.create(spark.range(0, 100).select(
        F.col("id"), F.lit("a").alias("tag")).coalesce(1), path)
    VT.append(spark.range(1000, 1100).select(
        F.col("id"), F.lit("b").alias("tag")).coalesce(1), path)
    assert VT.build_blooms(spark, path, 1, "id") == 2
    first = VT.read_manifest(path, 1)["files"][0]
    v = VT.merge_keys(spark, spark.createDataFrame(
        [(1099, "m")], "id LONG, tag STRING"), path, key="id")
    assert VT.read_manifest(path, v)["blooms"] == {
        "id": {first: VT.read_manifest(path, 1)["blooms"]["id"][first]}}
    df, total, kept = VT.read_point(spark, path, "id", 1050)
    assert kept == total - 1          # the bloomed first file is skipped
    assert [r["tag"] for r in df.collect()] == ["b"]


def test_refused_commit_drops_its_staged_checksums(spark, table):
    df = spark.range(4).select(F.col("id"), F.lit("x").alias("tag"))
    VT.append(df, table)  # table moves to v1
    for _ in range(3):
        with pytest.raises(VT.ConcurrentWriteError):
            VT.append(df.repartition(2), table, expected_version=0)
    assert [f for f in VT._STAGED_CHECKSUMS if f.startswith(table)] == []
