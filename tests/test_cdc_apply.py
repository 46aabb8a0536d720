"""Golden tests for the CDC core, re-expressing the reference's manual
CRUD scenarios (reference postgres/scripts/manual/001-003 + seed data,
expected envelope outputs README.md:90-128, FIXTURES.md A2) as
deterministic asserts — replacing the reference's sleep-and-scrape e2e
(test_cdc.py:119-140, SURVEY §5)."""

from __future__ import annotations

import contextlib
import json
import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_poc_spark.cdc import apply as cdc_apply
from cdc_poc_spark.cdc import envelope as env

ACCOUNT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.IntegerType()),
        T.StructField("email", T.StringType()),
        T.StructField("created_at", T.LongType()),  # Debezium MicroTimestamp
    ]
)

#: golden micros value observed in reference README.md:93
GOLDEN_MICROS = 1713192083639740
GOLDEN_TS_STR = "2024-04-15 14:41:23.639740"


def _env(op, before, after, ts_ms, offset):
    return (
        json.dumps(
            {
                "schema": {"type": "struct"},
                "payload": {
                    "before": before,
                    "after": after,
                    "op": op,
                    "ts_ms": ts_ms,
                    "source": {"db": "cdc", "schema": "commerce", "table": "account"},
                },
            }
        ),
        "cdc.commerce.account",
        offset,
    )


def _row(uid, email):
    return {"user_id": uid, "email": email, "created_at": GOLDEN_MICROS}


@pytest.fixture(scope="module")
def scenario(spark):
    """FIXTURES.md A2: snapshot(3) -> insert(2) -> update(emily->emma)
    -> delete all 5 (manual/003 deletes the whole table)."""
    records = [
        _env("r", None, _row(1, "alice@example.com"), 1000, 0),
        _env("r", None, _row(2, "bob@example.com"), 1000, 1),
        _env("r", None, _row(3, "carol@example.com"), 1000, 2),
        _env("c", None, _row(4, "derek@example.com"), 2000, 3),
        _env("c", None, _row(5, "emily@example.com"), 2000, 4),
        _env("u", _row(5, "emily@example.com"), _row(5, "emma@example.com"), 3000, 5),
    ]
    deletes = [
        _env("d", _row(uid, e), None, 4000, 6 + i)
        for i, (uid, e) in enumerate(
            [
                (1, "alice@example.com"),
                (2, "bob@example.com"),
                (3, "carol@example.com"),
                (4, "derek@example.com"),
                (5, "emma@example.com"),
            ]
        )
    ]
    df = spark.createDataFrame(
        records + deletes, "value string, topic string, offset long"
    )
    return df


def test_micros_golden_roundtrip(spark):
    df = spark.createDataFrame([(GOLDEN_MICROS,)], "us long")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    r = df.select(
        F.date_format(env.micros_to_ts("us"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("s"),
        env.ts_to_micros(env.micros_to_ts("us")).alias("back"),
    ).first()
    assert r.s == GOLDEN_TS_STR
    assert r.back == GOLDEN_MICROS


def test_parse_envelope_raw_matches_reference_shape(spark, scenario):
    parsed = env.parse_envelope_raw(scenario)
    assert set(parsed.columns) == {"before", "after", "op", "ts_ms", "topic", "seq"}
    rows = parsed.orderBy("seq").collect()
    # op domain and JSON-string preservation (SURVEY §1.1c: log keeps strings)
    assert [r.op for r in rows[:6]] == ["r", "r", "r", "c", "c", "u"]
    assert all(r.op == "d" for r in rows[6:])
    assert json.loads(rows[5].after)["email"] == "emma@example.com"
    assert json.loads(rows[5].before)["email"] == "emily@example.com"
    assert rows[0].before is None and rows[6].after is None


def test_parse_envelope_typed_flatten_and_cdc_meta(spark, scenario):
    typed = env.parse_envelope_typed(
        scenario, ACCOUNT_SCHEMA, key_cols=("user_id",)
    )
    assert set(typed.columns) == {"user_id", "email", "created_at", "_cdc"}
    rows = typed.orderBy("_cdc.offset").collect()
    # op mapping r/c -> I, u -> U, d -> D (README.md:118 shows I)
    assert [r._cdc.op for r in rows[:6]] == ["I", "I", "I", "I", "I", "U"]
    assert rows[6]._cdc.op == "D"
    # delete rows keep their key from `before` (after is NULL on the wire)
    assert rows[6].user_id == 1
    # routing target matches the Connect SMT pattern cdc.{db}_{table}
    assert rows[0]._cdc.target == "commerce_account"
    assert rows[0]._cdc.key.user_id == 1


@pytest.fixture(scope="module")
def typed_log(spark, scenario):
    t = env.parse_envelope_typed(scenario, ACCOUNT_SCHEMA, key_cols=("user_id",))
    return t.select(
        "user_id", "email", "created_at",
        F.col("_cdc.op").alias("op"), F.col("_cdc.offset").alias("seq"),
    )


def test_apply_through_update_matches_reference_expected_state(spark, typed_log):
    """FIXTURES.md A2 golden: after apply-through-update, 5 rows with
    emma replacing emily."""
    through_update = typed_log.filter("seq <= 5")
    state = cdc_apply.apply_changes(through_update, ["user_id"])
    got = {(r.user_id, r.email) for r in state.collect()}
    assert got == {
        (1, "alice@example.com"),
        (2, "bob@example.com"),
        (3, "carol@example.com"),
        (4, "derek@example.com"),
        (5, "emma@example.com"),
    }


def test_apply_full_log_is_empty(spark, typed_log):
    """After the whole-table delete (manual/003), current state is empty."""
    assert cdc_apply.apply_changes(typed_log, ["user_id"]).count() == 0


def test_incremental_merge_equals_full_apply(spark, typed_log):
    """merge_upsert batch-by-batch == apply_changes over the whole log
    (the foreachBatch invariant)."""
    full = cdc_apply.apply_changes(typed_log.filter("seq <= 5"), ["user_id"])
    b1 = typed_log.filter("seq <= 2")
    b2 = typed_log.filter("seq BETWEEN 3 AND 5")
    state = cdc_apply.merge_upsert(None, b1, ["user_id"])
    state = cdc_apply.merge_upsert(state, b2, ["user_id"])
    assert sorted((r.user_id, r.email) for r in state.collect()) == sorted(
        (r.user_id, r.email) for r in full.collect()
    )


def test_merge_is_idempotent_under_redelivery(spark, typed_log):
    """Re-applying an already-applied batch must not change state
    (foreachBatch re-delivery after recovery, SURVEY §7 hard parts)."""
    b1 = typed_log.filter("seq <= 4")
    b2 = typed_log.filter("seq = 5")
    s1 = cdc_apply.merge_upsert(None, b1, ["user_id"])
    s2 = cdc_apply.merge_upsert(s1, b2, ["user_id"])
    s3 = cdc_apply.merge_upsert(s2, b2, ["user_id"])  # redelivered
    s2r = sorted((r.user_id, r.email) for r in s2.collect())
    assert sorted((r.user_id, r.email) for r in s3.collect()) == s2r
    # stale redelivery of an OLD batch must not regress newer state
    s4 = cdc_apply.merge_upsert(s3, b1, ["user_id"])
    assert sorted((r.user_id, r.email) for r in s4.collect()) == s2r


def test_merge_into_parquet_roundtrip(spark, typed_log, tmp_path):
    target = str(tmp_path / "mirror")
    cdc_apply.merge_into_parquet(spark, target, typed_log.filter("seq <= 2"), ["user_id"])
    cdc_apply.merge_into_parquet(
        spark, target, typed_log.filter("seq BETWEEN 3 AND 5"), ["user_id"]
    )
    state = spark.read.parquet(target)
    assert {(r.user_id, r.email) for r in state.collect()} == {
        (1, "alice@example.com"),
        (2, "bob@example.com"),
        (3, "carol@example.com"),
        (4, "derek@example.com"),
        (5, "emma@example.com"),
    }
    cdc_apply.merge_into_parquet(spark, target, typed_log.filter("seq >= 6"), ["user_id"])
    assert spark.read.parquet(target).count() == 0


def test_schema_evolution_merge(spark, typed_log):
    """A batch with a new column merges; old state rows get NULL —
    mergeSchema/accept-any-schema semantics (consumer.py:76-78)."""
    b1 = typed_log.filter("seq <= 2")
    b2 = typed_log.filter("seq BETWEEN 3 AND 5").withColumn(
        "plan", F.lit("premium")
    )
    state = cdc_apply.merge_upsert(None, b1, ["user_id"])
    state = cdc_apply.merge_upsert(state, b2, ["user_id"])
    assert "plan" in state.columns
    by_id = {r.user_id: r.plan for r in state.collect()}
    assert by_id[4] == "premium" and by_id[1] is None


def test_scd2_history(spark, typed_log):
    hist = cdc_apply.scd2_from_log(typed_log, ["user_id"])
    emily = hist.filter("user_id = 5").orderBy("valid_from").collect()
    assert len(emily) == 2
    assert emily[0].email == "emily@example.com" and emily[0].valid_to == 5
    assert emily[1].email == "emma@example.com" and emily[1].valid_to == 10  # closed by delete
    assert not emily[1].is_current


_MIRROR_SCHEMA = "pk LONG, val STRING, seq LONG, op STRING"


@contextlib.contextmanager
def _split_bytes(spark, n):
    """Run the block with spark.sql.files.maxPartitionBytes=n."""
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def _leaf_files(target):
    """Leaf directory -> its data file names."""
    return {
        d: frozenset(f for f in os.listdir(os.path.join(target, d)) if f.endswith(".parquet"))
        for d in os.listdir(target)
        if d.startswith("__bucket=")
    }


def _check_layout(spark, target, n_buckets=64):
    """Assert the leaf invariants and return {leaf id: depth}: every id
    decodes to a (depth, residue), no leaf contains another, and each
    row's key hash has its leaf's residue in the low depth bits."""
    top = n_buckets.bit_length() - 1
    leaves = {}
    for d in _leaf_files(target):
        b = int(d.split("=")[1])
        depth, r = top - b // n_buckets, b % n_buckets
        assert 0 <= depth <= top and r < (1 << depth), d
        leaves[b] = (depth, r)
    for b1, (d1, r1) in leaves.items():
        for b2, (d2, r2) in leaves.items():
            assert b1 == b2 or d1 >= d2 or r2 & ((1 << d1) - 1) != r1, (b1, b2)
    rows = (
        spark.read.parquet(target)
        .select("__bucket", F.expr("xxhash64(cast(pk AS STRING))").alias("h"))
        .collect()
    )
    for row in rows:
        depth, r = leaves[row["__bucket"]]
        assert row["h"] & ((1 << depth) - 1) == r, row
    return {b: d for b, (d, _) in leaves.items()}


def _state(spark, target):
    """Mirror rows as a sorted list, so a key landed twice shows."""
    return sorted(tuple(r) for r in cdc_apply.read_bucketed_state(spark, target)
                  .select("pk", "val", "seq", "op").collect())


def _expected(spark, rows):
    log = spark.createDataFrame(rows, _MIRROR_SCHEMA)
    return sorted(tuple(r) for r in cdc_apply.apply_changes(log, ["pk"])
                  .select("pk", "val", "seq", "op").collect())


def test_bucketed_merge_fresh_mirror_is_one_leaf(spark, tmp_path):
    target = str(tmp_path / "state")
    rows = [(i, f"v{i}", i, "c") for i in range(20)]
    cdc_apply.merge_into_parquet_bucketed(
        spark, target, spark.createDataFrame(rows, _MIRROR_SCHEMA), ["pk"]
    )
    # the root leaf of a 64-bucket tree: residue 0 at depth 0 = 0 + 64 * 6
    assert _check_layout(spark, target) == {384: 0}
    assert _state(spark, target) == _expected(spark, rows)
    before = _leaf_files(target)
    cdc_apply.merge_into_parquet_bucketed(
        spark, target, spark.createDataFrame([], _MIRROR_SCHEMA), ["pk"]
    )
    assert _leaf_files(target) == before


def _epochs():
    """3,000 inserts, then five epochs of 300 upserts over 5,000 keys,
    20% of them deletes."""
    import random

    rng = random.Random(7)
    log = [(i, f"v{i}", i, "c") for i in range(3000)]
    seq = len(log)
    batches = [log]
    for _ in range(5):
        batch = []
        for pk in rng.sample(range(5000), 300):
            seq += 1
            deleted = rng.random() < 0.2
            batch.append((pk, None if deleted else f"w{seq}", seq, "d" if deleted else "u"))
        batches.append(batch)
    return batches


def test_merge_into_parquet_bucketed(spark, tmp_path):
    """Six epochs with 4 KB scan splits: the root leaf splits on its
    first rewrite, the leaf invariants hold, and the state equals a
    one-shot apply_changes of the whole log after every epoch."""
    target = str(tmp_path / "state")
    log = []
    n_leaves = []
    with _split_bytes(spark, 4096):
        for batch in _epochs():
            cdc_apply.merge_into_parquet_bucketed(
                spark, target, spark.createDataFrame(batch, _MIRROR_SCHEMA), ["pk"]
            )
            log += batch
            leaves = _check_layout(spark, target)
            n_leaves.append(len(leaves))
            assert _state(spark, target) == _expected(spark, log)
    assert n_leaves[0] == 1
    assert n_leaves[1] > 1 and 0 not in leaves.values()
    assert max(leaves.values()) < 6  # leaves stop splitting at one split


def _split_target(spark, target):
    """Merge the first two epochs with 4 KB scan splits, so the root
    leaf has split; return their log."""
    batches = _epochs()[:2]
    with _split_bytes(spark, 4096):
        for batch in batches:
            cdc_apply.merge_into_parquet_bucketed(
                spark, target, spark.createDataFrame(batch, _MIRROR_SCHEMA), ["pk"]
            )
    return batches[0] + batches[1]


def _fixed_layout(spark, target, rows):
    """Write ``rows`` in the fixed pmod(h, 64) bucket layout."""
    (
        spark.createDataFrame(rows, _MIRROR_SCHEMA)
        .withColumn("__bucket", F.expr("pmod(xxhash64(cast(pk AS STRING)), 64)"))
        .write.partitionBy("__bucket")
        .parquet(target)
    )


def _home(spark, leaves, pk):
    """The leaf id that holds key ``pk``."""
    (h,) = spark.range(1).select(F.expr(f"xxhash64(cast({pk}L AS STRING))")).first()
    return next(b for b, d in leaves.items() if h & ((1 << d) - 1) == b % 64)


def test_bucketed_merge_one_key_rewrites_only_its_leaf(spark, tmp_path):
    """A one-key batch leaves every other leaf as it is, and splits its
    own leaf down to the cap, so the next one-key batch there rewrites
    a 64th of the state."""
    target = str(tmp_path / "state")
    log = _split_target(spark, target)
    leaves = _check_layout(spark, target)
    assert len(leaves) > 1
    home = _home(spark, leaves, 3)
    before = _leaf_files(target)
    batch = [(3, "v3b", 10_000, "u")]
    cdc_apply.merge_into_parquet_bucketed(
        spark, target, spark.createDataFrame(batch, _MIRROR_SCHEMA), ["pk"]
    )
    after = _leaf_files(target)
    now = _check_layout(spark, target)
    assert all(after[d] == f for d, f in before.items() if d != f"__bucket={home}")
    assert f"__bucket={home}" not in after
    new = {b: d for b, d in now.items() if b not in leaves}
    assert new and set(new.values()) == {6}
    assert all(b % (1 << leaves[home]) == home % 64 for b in new)
    log += batch
    assert _state(spark, target) == _expected(spark, log)

    other = next(
        r.pk
        for r in spark.read.parquet(target).filter(f"__bucket IN ({','.join(map(str, new))})")
        .collect()
        if r.pk != 3
    )
    before = after
    batch = [(other, "again", 10_001, "u")]
    cdc_apply.merge_into_parquet_bucketed(
        spark, target, spark.createDataFrame(batch, _MIRROR_SCHEMA), ["pk"]
    )
    after = _leaf_files(target)
    assert after.keys() == before.keys()
    assert [d for d in after if after[d] != before[d]] == [f"__bucket={_home(spark, now, other)}"]
    assert _state(spark, target) == _expected(spark, log + batch)


def test_bucketed_merge_drops_fully_deleted_leaf(spark, tmp_path):
    """Deleting every key of a leaf removes its directory; a key later
    inserted into that hole lands in the shallowest empty subtree on its
    hash path, the deleted leaf's own node."""
    target = str(tmp_path / "state")
    log = _split_target(spark, target)
    leaves = _check_layout(spark, target)
    victim = min(leaves)
    keys = [r.pk for r in spark.read.parquet(target).filter(f"__bucket = {victim}").collect()]
    assert keys
    before = _leaf_files(target)
    deletes = [(pk, None, 20_000 + pk, "d") for pk in keys]
    cdc_apply.merge_into_parquet_bucketed(
        spark, target, spark.createDataFrame(deletes, _MIRROR_SCHEMA), ["pk"]
    )
    after = _leaf_files(target)
    assert after == {d: f for d, f in before.items() if d != f"__bucket={victim}"}
    log += deletes
    assert _state(spark, target) == _expected(spark, log)

    batch = [(keys[0], "back", 30_000, "c")]
    cdc_apply.merge_into_parquet_bucketed(
        spark, target, spark.createDataFrame(batch, _MIRROR_SCHEMA), ["pk"]
    )
    assert _check_layout(spark, target) == leaves
    assert _state(spark, target) == _expected(spark, log + batch)


def test_bucketed_merge_continues_fixed_layout(spark, tmp_path):
    """A mirror written in the fixed pmod(h, 64) layout is the fully
    split tree: it keeps merging in place, and leaves the batch misses
    keep their files."""
    target = str(tmp_path / "state")
    rows = [(i, f"v{i}", i, "c") for i in range(500)]
    _fixed_layout(spark, target, rows)
    before = _leaf_files(target)
    assert len(before) == 64
    batch = (
        [(i, f"u{i}", 1000 + i, "u") for i in range(0, 40, 2)]
        + [(i, None, 2000 + i, "d") for i in range(1, 40, 2)]
        + [(i, f"n{i}", 3000 + i, "c") for i in range(500, 520)]
    )
    hit = {
        f"__bucket={r.b}"
        for r in spark.createDataFrame(batch, _MIRROR_SCHEMA)
        .select(F.expr("pmod(xxhash64(cast(pk AS STRING)), 64)").alias("b"))
        .collect()
    }
    assert len(hit) < 64
    cdc_apply.merge_into_parquet_bucketed(
        spark, target, spark.createDataFrame(batch, _MIRROR_SCHEMA), ["pk"]
    )
    _check_layout(spark, target)
    after = _leaf_files(target)
    assert all(after[d] == f for d, f in before.items() if d not in hit)
    assert _state(spark, target) == _expected(spark, rows + batch)


def test_bucketed_merge_dense_batch_joins_leaves(spark, tmp_path):
    """A batch that touches every leaf of a fixed-layout mirror rewrites
    it as one root leaf."""
    target = str(tmp_path / "state")
    rows = [(i, f"v{i}", i, "c") for i in range(500)]
    _fixed_layout(spark, target, rows)
    batch = [(i, f"u{i}", 1000 + i, "u") for i in range(500)]
    cdc_apply.merge_into_parquet_bucketed(
        spark, target, spark.createDataFrame(batch, _MIRROR_SCHEMA), ["pk"]
    )
    assert _check_layout(spark, target) == {384: 0}
    assert _state(spark, target) == _expected(spark, rows + batch)


def test_bucketed_merge_rejects_non_power_of_two(spark, tmp_path):
    batch = spark.createDataFrame([(1, "a", 1, "c")], _MIRROR_SCHEMA)
    with pytest.raises(ValueError, match="power of two"):
        cdc_apply.merge_into_parquet_bucketed(
            spark, str(tmp_path / "state"), batch, ["pk"], n_buckets=6
        )


class _Cut(Exception):
    """Stands for a crash in the middle of a merge's swap."""


@contextlib.contextmanager
def _swap_cut_after(target, n):
    """Within the block, the n+1-th rename into or removal inside
    ``target`` raises _Cut before it happens."""
    import shutil

    steps = []
    rename, rmtree = os.rename, shutil.rmtree

    def step(path):
        if os.path.dirname(path) == target:
            if len(steps) == n:
                raise _Cut(path)
            steps.append(path)

    def cut_rename(src, dst):
        step(dst)
        rename(src, dst)

    def cut_rmtree(path, *args, **kwargs):
        step(path)
        rmtree(path, *args, **kwargs)

    os.rename, shutil.rmtree = cut_rename, cut_rmtree
    try:
        yield
    finally:
        os.rename, shutil.rmtree = rename, rmtree


@pytest.mark.parametrize("swap", ["split", "join"])
def test_bucketed_merge_replay_repairs_cut_short_swap(spark, tmp_path, swap):
    """A merge cut short after its first new leaves are renamed in
    leaves them next to the leaves they replace, so keys show twice.
    Replaying the same batch merges each leaf with the leaves inside it
    and restores the state of a one-shot apply_changes."""
    target = str(tmp_path / "state")
    split = 4096 if swap == "split" else 128 * 1024 * 1024
    with _split_bytes(spark, split):
        if swap == "split":
            first, batch = _epochs()[:2]
            cdc_apply.merge_into_parquet_bucketed(
                spark, target, spark.createDataFrame(first, _MIRROR_SCHEMA), ["pk"]
            )
        else:
            first = [(i, f"v{i}", i, "c") for i in range(500)]
            _fixed_layout(spark, target, first)
            batch = [(i, None if i % 5 == 0 else f"u{i}", 1000 + i, "d" if i % 5 == 0 else "u")
                     for i in range(500)]
        expected = _expected(spark, first + batch)
        df = spark.createDataFrame(batch, _MIRROR_SCHEMA)
        with pytest.raises(_Cut), _swap_cut_after(target, 2 if swap == "split" else 1):
            cdc_apply.merge_into_parquet_bucketed(spark, target, df, ["pk"])
        cut = _state(spark, target)
        assert len(cut) > len({r[0] for r in cut})
        cdc_apply.merge_into_parquet_bucketed(spark, target, df, ["pk"])
    leaves = _check_layout(spark, target)
    assert (min(leaves.values()) > 0) if swap == "split" else (leaves == {384: 0})
    assert _state(spark, target) == expected


def test_merge_sql_statement_shape():
    """The resolved form of the reference's `TODO: Switch to MERGE INTO`
    (consumer.py:76): clause ORDER is delete -> update -> insert, all
    seq-guarded, so stale/replayed rows no-op."""
    sql = cdc_apply.merge_sql("cat.db.mirror", "src", ["pk", "region"])
    assert "MERGE INTO cat.db.mirror t USING src s" in sql
    assert "ON t.pk = s.pk AND t.region = s.region" in sql
    i_del, i_upd, i_ins = (
        sql.index("THEN DELETE"), sql.index("THEN UPDATE"), sql.index("THEN INSERT")
    )
    assert i_del < i_upd < i_ins
    assert sql.count("s.seq >= t.seq") == 2  # delete + update both guarded
    assert "WHEN NOT MATCHED AND s.op NOT IN ('d', 'D') THEN INSERT *" in sql


def test_merge_sql_golden_string():
    """Byte-exact golden for the generated MERGE statement (VERDICT r2
    #6): with no Delta/Iceberg jar loadable in this container the SQL
    path cannot execute, so the emitted text itself is pinned — any
    drift in clause order, seq guards, or delete-op quoting fails here
    rather than silently on a cluster."""
    got = cdc_apply.merge_sql("iceberg.cdc.commerce_account", "batch", ["user_id"])
    golden = (
        "MERGE INTO iceberg.cdc.commerce_account t USING batch s "
        "ON t.user_id = s.user_id "
        "WHEN MATCHED AND s.op IN ('d', 'D') AND s.seq >= t.seq THEN DELETE "
        "WHEN MATCHED AND s.seq >= t.seq THEN UPDATE SET * "
        "WHEN NOT MATCHED AND s.op NOT IN ('d', 'D') THEN INSERT *"
    )
    assert got == golden
    got2 = cdc_apply.merge_sql(
        "m", "v", ["a", "b"], seq_col="lsn", op_col="kind", delete_ops=("D",)
    )
    golden2 = (
        "MERGE INTO m t USING v s ON t.a = s.a AND t.b = s.b "
        "WHEN MATCHED AND s.kind IN ('D') AND s.lsn >= t.lsn THEN DELETE "
        "WHEN MATCHED AND s.lsn >= t.lsn THEN UPDATE SET * "
        "WHEN NOT MATCHED AND s.kind NOT IN ('D') THEN INSERT *"
    )
    assert got2 == golden2


def test_merge_into_dispatcher_falls_back_to_bucketed(spark, typed_log, tmp_path):
    """No Delta/Iceberg jar in this container -> detect returns None and
    merge_into takes the bucketed-parquet path with identical semantics."""
    assert cdc_apply.detect_merge_backend(spark) is None
    target = str(tmp_path / "mirror")
    cdc_apply.merge_into(spark, target, typed_log.filter("seq <= 2"), ["user_id"], n_buckets=4)
    cdc_apply.merge_into(
        spark, target, typed_log.filter("seq BETWEEN 3 AND 5"), ["user_id"], n_buckets=4
    )
    state = cdc_apply.read_bucketed_state(spark, target)
    assert {(r.user_id, r.email) for r in state.collect()} == {
        (1, "alice@example.com"),
        (2, "bob@example.com"),
        (3, "carol@example.com"),
        (4, "derek@example.com"),
        (5, "emma@example.com"),
    }
    import os
    assert any(d.startswith("__bucket=") for d in os.listdir(target))


def test_merge_into_transactional_live(spark, typed_log, tmp_path):
    """Runs the REAL SQL MERGE when a transactional format is present;
    skipped where neither Delta nor Iceberg is on the classpath (this
    container) — the statement itself is verified by
    test_merge_sql_statement_shape and the dispatcher by the fallback
    test."""
    backend = cdc_apply.detect_merge_backend(spark)
    if backend is None:
        pytest.skip("no transactional table format on the classpath")
    name = "default.cdc_merge_live_test"
    fmt = "delta" if backend == "delta" else "iceberg"
    typed_log.filter("seq <= 2").writeTo(name).using(fmt).createOrReplace()
    cdc_apply.merge_into_transactional(
        spark, name, typed_log.filter("seq BETWEEN 3 AND 5"), ["user_id"]
    )
    got = {(r.user_id, r.email) for r in spark.read.table(name).collect()}
    assert (5, "emma@example.com") in got and len(got) == 5
    spark.sql(f"DROP TABLE {name}")
