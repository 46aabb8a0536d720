"""Current-state materialization and merge — resolving the reference's
`TODO: Switch to MERGE INTO` (consumer.py:76).

Core primitive: ``apply_changes`` — last-writer-wins window dedup over a
changelog keyed by primary key and ordered by a monotonic sequence
(Kafka offset / LSN / ts_ms — the `_cdc.offset` idea, README.md:118),
with delete tombstones dropping keys. One shuffle on the key; state
bounded per key; the formulation that scales to 100 TB and that
Delta/Iceberg MERGE compiles to anyway.

``merge_upsert`` applies a change batch against an existing state
DataFrame (the incremental form used by streaming foreachBatch), and
``merge_into_parquet`` persists it with dedup-overwrite — the documented
fallback when no transactional table format is on the classpath (SURVEY
§7 "degrade to the pure-Spark dedup/overwrite path"). Schema evolution
uses unionByName(allowMissingColumns=True) — the mergeSchema semantics
of consumer.py:76.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


def apply_changes(
    log_df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_ops: tuple[str, ...] = ("d", "D"),
) -> DataFrame:
    """Changelog -> current state.

    Latest row per key (by seq desc; op as final tiebreak so a delete at
    the same seq wins over an insert — deletes sort after c/r/u
    alphabetically in both Debezium and mirror op domains is NOT true,
    so an explicit delete-priority rank is used), then tombstones drop.
    """
    delete_rank = F.when(F.col(op_col).isin(*delete_ops), 1).otherwise(0)
    w = W.partitionBy(*key_cols).orderBy(
        F.col(seq_col).desc(), delete_rank.desc()
    )
    return (
        log_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .filter(~F.col(op_col).isin(*delete_ops))
    )


def merge_upsert(
    state_df: DataFrame | None,
    batch_df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_ops: tuple[str, ...] = ("d", "D"),
) -> DataFrame:
    """MERGE a change batch into an existing state table.

    Equivalent to `MERGE INTO state USING batch ON keys WHEN MATCHED
    [AND op='d'] THEN DELETE / UPDATE WHEN NOT MATCHED THEN INSERT`
    with last-writer-wins inside the batch. Implemented as
    union-by-name (schema evolution included) + apply_changes: existing
    state rows carry their stored seq so a stale batch row cannot
    regress a newer state (idempotent under foreachBatch re-delivery).
    """
    if state_df is None:
        return apply_changes(batch_df, key_cols, seq_col, op_col, delete_ops)
    prepared_state = state_df
    if op_col not in prepared_state.columns:
        prepared_state = prepared_state.withColumn(op_col, F.lit("u"))
    combined = prepared_state.unionByName(batch_df, allowMissingColumns=True)
    return apply_changes(combined, key_cols, seq_col, op_col, delete_ops)


def merge_into_parquet(
    spark: SparkSession,
    target_path: str,
    batch_df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_ops: tuple[str, ...] = ("d", "D"),
) -> None:
    """Dedup-overwrite merge against a parquet target (the no-Iceberg
    fallback; with Iceberg/Delta on the classpath the same batch feeds
    SQL MERGE INTO instead).

    Note for scale: overwrite rewrites the whole target — correct but
    O(state); a transactional format with MERGE rewrites only matched
    files. The interface is identical so deployments swap the sink."""
    import shutil

    state = None
    if os.path.exists(target_path):
        state = spark.read.parquet(target_path)
    merged = merge_upsert(state, batch_df, key_cols, seq_col, op_col, delete_ops)
    # Write-ahead + swap: the merged plan reads the files being replaced,
    # so land the new state beside the target and rename — distributed
    # write, no driver materialization.
    tmp = target_path.rstrip("/") + ".__tmp__"
    merged.write.mode("overwrite").option("compression", "zstd").parquet(tmp)
    if os.path.exists(target_path):
        shutil.rmtree(target_path)
    os.rename(tmp, target_path)


_LEAF_DIR = "__bucket="


def _leaf_layout(target_path: str, n_buckets: int) -> dict[int, tuple[int, int]]:
    """Leaf id -> (depth, residue) for every ``__bucket=`` directory of
    a target; an id that is no node of the ``n_buckets`` tree raises."""
    top = n_buckets.bit_length() - 1
    leaves: dict[int, tuple[int, int]] = {}
    for entry in os.listdir(target_path):
        if not entry.startswith(_LEAF_DIR):
            continue
        b = int(entry[len(_LEAF_DIR):])
        depth, r = top - b // n_buckets, b % n_buckets
        if depth < 0 or r >> depth:
            raise ValueError(f"{entry} is not a leaf of a {n_buckets}-bucket layout")
        leaves[b] = (depth, r)
    return leaves


def _ancestors(node: tuple[int, int]) -> list[tuple[int, int]]:
    """The (depth, residue) nodes above ``node``, root first."""
    d, r = node
    return [(a, r & ((1 << a) - 1)) for a in range(d)]


def _contains(outer: tuple[int, int], node: tuple[int, int]) -> bool:
    return node[0] >= outer[0] and node[1] & ((1 << outer[0]) - 1) == outer[1]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if not f.startswith((".", "_"))
    )


def _rewrite_depth(
    size: int, fine: set[int], depth: int, top: int, split: int, open_cost: int
) -> int:
    """Depth to rewrite a subtree at: ``size`` bytes rooted at
    ``depth``, whose batch keys have the depth-``top`` residues
    ``fine``. Leaves hold about one split at most; above that bound the
    depth is the one at which a like batch would cost least next time,
    its bytes rewritten plus ``open_cost`` per file (ties: fewer
    leaves)."""
    lo = min(top, depth + (max(size - 1, 0) // split).bit_length())

    def cost(d: int) -> float:
        t = len({r & ((1 << d) - 1) for r in fine})
        return t * (size / (1 << (d - depth)) + open_cost)

    return min(range(lo, top + 1), key=cost)


def merge_into_parquet_bucketed(
    spark: SparkSession,
    target_path: str,
    batch_df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_ops: tuple[str, ...] = ("d", "D"),
    n_buckets: int = 64,
) -> None:
    """Partition-pruned merge into a tree of hash leaves that split and
    join when they are rewritten.

    With h = xxhash64 of the keys, a leaf at depth d holds the keys
    whose h has low-d-bit residue r and lives in the partition directory
    ``__bucket = r + n_buckets * (log2(n_buckets) - d)``. A new mirror
    is one root leaf; the deepest level (d = log2(n_buckets)) is the
    fixed ``pmod(h, n_buckets)`` layout, so a mirror written that way is
    the fully split tree. ``n_buckets`` must be a power of two and caps
    the fan-out.

    Each batch key goes to the leaf that contains its h, or to the
    shallowest empty subtree on h's path (a hole left by deleted
    leaves). The merge reads and rewrites the largest subtrees that
    hold no leaf the batch misses, so untouched leaves stay as they are
    and a batch that touches every leaf of a subtree joins them. Each
    rewritten subtree gets one depth, chosen from what the merge sees:
    its bytes and the share of its would-be leaves the batch's keys
    fall in. Leaves are kept at about one scan split at most
    (``spark.sql.files.maxPartitionBytes``); beyond that the depth
    minimises what a like batch would rewrite next time, counting each
    file it writes at Spark's file-open cost
    (``spark.sql.files.openCostInBytes``, 4 MB by default). Both are
    read from the session. So a dense batch leaves a small mirror one
    file, a batch whose keys all fall in one child splits its subtree
    down to the cap, and a 10-key batch against a 1 MB mirror rewrites
    the whole 1 MB, which costs less than the ~9 files it would write
    next time otherwise. The fixed layout is one of the depths weighed,
    so by this cost a merge never predicts worse than it; but a stream
    that alternates one-key and dense batches splits and joins a small
    mirror each time, rewriting all of it both ways. Routing tests each
    key against the inner nodes of the tree, so its cost grows with the
    leaf count; only caps up to 64 have been measured.

    The merged leaves are written aside, then renamed in; a replaced
    leaf is deleted only after every new leaf is in place. A merge cut
    short there leaves old and new leaves overlapping: the next merge
    reads each leaf together with the leaves inside it and rewrites
    them as one subtree, so replaying the cut-short batch (as
    foreachBatch does after a restart) restores the state through the
    stored seq. Only the moment between removing a leaf and renaming its
    same-named successor in is unprotected.
    """
    if n_buckets < 1 or n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
    import shutil

    top = n_buckets.bit_length() - 1
    # Hash a type-STABLE representation of the key: xxhash64(int 2) !=
    # xxhash64(bigint 2), so schema evolution that widens a key type
    # would silently re-route existing keys to different leaves and
    # duplicate state. Casting to string first makes the leaf a
    # function of the key's value, not its physical type.
    h = F.xxhash64(*[F.col(c).cast("string") for c in key_cols])

    def node_id(node: tuple[int, int]) -> int:
        return node[1] + n_buckets * (top - node[0])

    def leaf_at(depth: int):
        return h.bitwiseAND(F.lit((1 << depth) - 1)) + F.lit(n_buckets * (top - depth))

    exists = os.path.exists(target_path)
    leaves = _leaf_layout(target_path, n_buckets) if exists else {}
    nodes = set(leaves.values())
    outer = {c for c in nodes if not any(a in nodes for a in _ancestors(c))}
    inner = {a for c in outer for a in _ancestors(c)}
    # a key's route is the first node on its hash path that is no
    # ancestor of a leaf
    route = []
    for d in range(top + 1):
        ids = [node_id(a) for a in inner if a[0] == d]
        if not ids:
            route.append(leaf_at(d))
            break
        route.append(F.when(~leaf_at(d).isin(ids), leaf_at(d)))
    batch_b = batch_df.withColumn("__bucket", F.coalesce(*route))
    touched: dict[tuple[int, int], set[int]] = {}
    for row in (
        batch_b.select("__bucket", h.bitwiseAND(F.lit(n_buckets - 1)).alias("fine"))
        .distinct()
        .collect()
    ):
        b = row["__bucket"]
        touched.setdefault((top - b // n_buckets, b % n_buckets), set()).add(row["fine"])
    if not touched:  # an empty batch changes nothing
        return
    # each touched node is rewritten with the largest subtree around it
    # that holds no untouched leaf
    kept = {a for c in outer - touched.keys() for a in _ancestors(c) + [c]}
    regions: dict[tuple[int, int], set[int]] = {}
    for c, fine in touched.items():
        root = next(a for a in _ancestors(c) + [c] if a not in kept)
        regions.setdefault(root, set()).update(fine)

    conf = spark._jsparkSession.sessionState().conf()
    split, open_cost = conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes()
    present: list[int] = []
    groups: dict[tuple[int, int], list[int]] = {}
    for root, fine in regions.items():
        inside = [b for b, c in leaves.items() if _contains(root, c)]
        present += inside
        size = sum(_dir_bytes(os.path.join(target_path, f"{_LEAF_DIR}{b}")) for b in inside)
        depth = _rewrite_depth(size, fine, root[0], top, split, open_cost)
        groups.setdefault((root[0], depth), []).append(node_id(root))

    if present:
        state = spark.read.option("basePath", target_path).parquet(
            *[os.path.join(target_path, f"{_LEAF_DIR}{b}") for b in present]
        )
        if op_col not in state.columns:
            state = state.withColumn(op_col, F.lit("u"))
        combined = state.unionByName(batch_b, allowMissingColumns=True)
    else:
        combined = batch_b
    merged = apply_changes(combined, key_cols, seq_col, op_col, delete_ops)
    merged = merged.withColumn(
        "__bucket",
        F.coalesce(
            *[F.when(leaf_at(rd).isin(ids), leaf_at(d)) for (rd, d), ids in groups.items()]
        ),
    )

    # Self-overwrite hazard: the merged plan reads the very files being
    # replaced. Write-aside distributed, then swap ONLY the touched
    # leaf directories (driver does metadata renames, never data; on
    # an object store this is the commit protocol's job / a transactional
    # format's snapshot swap).
    tmp = target_path.rstrip("/") + ".__tmp__"
    (
        merged.write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("__bucket")
        .parquet(tmp)
    )
    if not exists:
        os.rename(tmp, target_path)
        return
    moved = set()
    for entry in os.listdir(tmp):
        if not entry.startswith(_LEAF_DIR):
            continue
        dst = os.path.join(target_path, entry)
        if os.path.exists(dst):
            shutil.rmtree(dst)
        os.rename(os.path.join(tmp, entry), dst)
        moved.add(entry)
    # only now, with every new leaf in place: drop each rewritten leaf
    # that was not replaced in place
    for b in present:
        entry = f"{_LEAF_DIR}{b}"
        if entry not in moved:
            shutil.rmtree(os.path.join(target_path, entry))
    shutil.rmtree(tmp)


def detect_merge_backend(spark: SparkSession) -> str | None:
    """Detect a transactional table format with SQL ``MERGE INTO``
    support on the classpath: 'delta', 'iceberg', or None.

    The reference enables Iceberg's SQL extensions exactly for this
    (consumer.py:22) and leaves the merge as a TODO (consumer.py:76);
    deployments with either runtime jar get real MERGE, everything else
    degrades to the bucketed-parquet merge with the same batch contract.
    """
    jvm = spark._jvm
    for cls, name in (
        ("org.apache.spark.sql.delta.DeltaLog", "delta"),
        ("org.apache.iceberg.spark.SparkCatalog", "iceberg"),
    ):
        try:
            jvm.java.lang.Class.forName(cls)
            return name
        except Exception:
            continue
    return None


def merge_sql(
    target_table: str,
    source_view: str,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_ops: tuple[str, ...] = ("d", "D"),
) -> str:
    """The MERGE statement the transactional path runs — the resolved
    form of the reference's `TODO: Switch to MERGE INTO`
    (consumer.py:76; upsert-by-id-columns, connect-iceberg-sink.json:29-30).

    Clause order is load-bearing (first matching WHEN wins):
    delete-with-newer-seq, then update-with-newer-seq, then insert.
    A matched row with a STALE source seq falls through every clause —
    a no-op, which is what makes epoch replay idempotent."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    dels = ", ".join(f"'{o}'" for o in delete_ops)
    return (
        f"MERGE INTO {target_table} t USING {source_view} s ON {on} "
        f"WHEN MATCHED AND s.{op_col} IN ({dels}) AND s.{seq_col} >= t.{seq_col} THEN DELETE "
        f"WHEN MATCHED AND s.{seq_col} >= t.{seq_col} THEN UPDATE SET * "
        f"WHEN NOT MATCHED AND s.{op_col} NOT IN ({dels}) THEN INSERT *"
    )


def merge_into_transactional(
    spark: SparkSession,
    target_table: str,
    batch_df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_ops: tuple[str, ...] = ("d", "D"),
) -> None:
    """SQL MERGE INTO against a Delta/Iceberg table. The batch is
    deduped last-writer-wins per key FIRST (MERGE requires at most one
    source row per target row), keeping tombstones so deletes reach the
    DELETE clause. File-level pruning/rewrites are the format's job —
    this is the O(touched-files) path the bucketed fallback emulates."""
    delete_rank = F.when(F.col(op_col).isin(*delete_ops), 1).otherwise(0)
    w = W.partitionBy(*key_cols).orderBy(F.col(seq_col).desc(), delete_rank.desc())
    latest = (
        batch_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    view = "__cdc_merge_source__"
    latest.createOrReplaceTempView(view)
    try:
        spark.sql(merge_sql(target_table, view, key_cols, seq_col, op_col, delete_ops))
    finally:
        spark.catalog.dropTempView(view)


def merge_into(
    spark: SparkSession,
    target: str,
    batch_df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_ops: tuple[str, ...] = ("d", "D"),
    n_buckets: int = 64,
    backend: str | None = None,
) -> None:
    """Unified merge entry point: SQL MERGE when a transactional format
    is on the classpath, bucketed-parquet merge otherwise. ``target``
    is a table name for transactional backends, a directory path for
    the parquet fallback — the caller's batch contract is identical."""
    backend = backend if backend is not None else detect_merge_backend(spark)
    if backend:
        merge_into_transactional(
            spark, target, batch_df, key_cols, seq_col, op_col, delete_ops
        )
    else:
        merge_into_parquet_bucketed(
            spark, target, batch_df, key_cols, seq_col, op_col, delete_ops, n_buckets
        )


def read_bucketed_state(spark: SparkSession, target_path: str) -> DataFrame:
    """Read a bucketed-merge target without the layout column."""
    return spark.read.parquet(target_path).drop("__bucket")


def scd2_from_log(
    log_df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_ops: tuple[str, ...] = ("d", "D"),
) -> DataFrame:
    """Changelog -> SCD2 history: every change becomes a validity
    interval [seq, next seq per key); current rows have valid_to NULL;
    delete rows close the interval without opening one."""
    w = W.partitionBy(*key_cols).orderBy(seq_col)
    return (
        log_df.withColumn("valid_from", F.col(seq_col))
        .withColumn("valid_to", F.lead(seq_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull() & ~F.col(op_col).isin(*delete_ops))
        .filter(~F.col(op_col).isin(*delete_ops))
    )
