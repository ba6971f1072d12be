"""Versioned tables + MERGE-upsert emulation on plain parquet.

The reference upserts row-at-a-time into Postgres with natural keys and
a query-before-write existence check (/root/reference/xizang/pipelines/
bidSaver.py:37-395, CompanyEmployee.py:28-188, winner_bid.py:20-67).
The engine's sink is set-oriented: one MERGE per table per wave.

Iceberg jars are not available in this sandbox (SURVEY.md §7 plan B), so
this module provides the same two properties we need from Iceberg —
atomic commits and versioned snapshots for resume — on plain parquet,
with ONE commit protocol:

- every write lands in a brand-new immutable directory: a
  ``SnapshotTable`` version ``v{n:08d}`` or a ``DeltaTable`` part
  ``part-<label>``, fsynced before anything references it;
- a ``Catalog`` manifest names the version / part list of EVERY table
  plus the scalar crawl state, and is swapped atomically (os.replace);
- resume = read whatever the manifest names (a half-written directory
  is unreachable because the manifest flips only after every write of
  the commit completes).

On a real cluster the identical call sites would target Iceberg
``MERGE INTO`` — the interface (merge keys per table, column-level
matched-update expressions) is deliberately shaped like it.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _durable_replace(root: str, final: str, content: str) -> None:
    """Atomically (and DURABLY) replace ``final`` with ``content``:
    fsync the temp file before the rename and fsync the directory after,
    so a power loss cannot leave the rename durable while the bytes are
    not (ext4/xfs delayed allocation) — an empty manifest after a crash
    would destroy the only resume point the old file held."""
    fd, tmp = tempfile.mkstemp(dir=root, prefix=os.path.basename(final) + "_tmp")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(content)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, final)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise
    dfd = os.open(root, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _fsync_tree(path: str) -> None:
    """fsync every file and directory under ``path`` (bottom-up), then
    the parent directory entry.

    Spark's local-FS parquet writes land in the page cache; close() does
    NOT sync them. Flipping a durably-fsynced manifest at a
    version directory whose data files are still volatile would INVERT
    the durability guarantee: after a power loss the manifest survives
    but the data it references doesn't, and the old consistent version
    is unreachable — the exact outcome _durable_replace exists to
    prevent. Called on every written version/part directory BEFORE the
    manifest that references it flips. Cost is O(files in
    this wave's delta) — the commits are already O(wave). On HDFS/S3
    the store's own commit protocol provides durability; these roots
    are plain local paths by construction (SURVEY §7 plan B)."""
    for dirpath, _dirnames, filenames in os.walk(path, topdown=False):
        for fn in filenames:
            try:
                fd = os.open(os.path.join(dirpath, fn), os.O_RDONLY)
                try:
                    os.fsync(fd)
                finally:
                    os.close(fd)
            except OSError:
                continue
        try:
            dfd = os.open(dirpath, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
        except OSError:
            continue
    # the new directory's entry in its parent
    try:
        pfd = os.open(os.path.dirname(path.rstrip("/")) or "/", os.O_RDONLY)
        try:
            os.fsync(pfd)
        finally:
            os.close(pfd)
    except OSError:
        pass


class SnapshotTable:
    """Versioned parquet table: every write is a new immutable version
    directory; which version is live is the Catalog manifest's job."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.root, f"v{v:08d}")

    def _max_version(self) -> int:
        vs = [
            int(d[1:]) for d in os.listdir(self.root)
            if d.startswith("v") and d[1:].isdigit()
        ]
        return max(vs, default=0)

    def write_version(self, df: DataFrame) -> int:
        """Write df as a new immutable version directory, numbered past
        every version already on disk; returns the version for a Catalog
        manifest. Orphan versions from a crash before the manifest flip
        are unreferenced and harmless."""
        v = self._max_version() + 1
        out = self._version_dir(v)
        df.write.mode("overwrite").parquet(out)
        _fsync_tree(out)  # durable before the Catalog manifest references it
        return v

    def read_version(self, v: int) -> DataFrame:
        return self.spark.read.parquet(self._version_dir(v))


class DeltaTable:
    """Append-only table as immutable per-wave part directories.

    A commit writes ONLY the new part (O(wave delta), never O(total
    history) — the fix for the r1 full-union rewrite); which parts belong
    to a consistent snapshot is the Catalog manifest's job. Reading all
    committed parts is ONE multi-path parquet scan (a single source node,
    not a union of per-part plans)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def part_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write_part(self, df: DataFrame, label: str) -> str:
        name = f"part-{label}"
        df.write.mode("overwrite").parquet(self.part_dir(name))
        _fsync_tree(self.part_dir(name))  # durable before the manifest flip
        return name

    def read(self, names: list[str]) -> DataFrame:
        if not names:
            # explicit raise, not assert: input validation must survive
            # `python -O` (a zero-path spark.read.parquet gives an opaque
            # schema-inference error instead of this message)
            raise ValueError(f"no committed parts in {self.root}")
        return self.spark.read.parquet(*[self.part_dir(n) for n in names])


class Catalog:
    """Atomic multi-table snapshot manifest: ONE os.replace covers every
    table's version / part list plus scalar state (wave, next_seq), so a
    crash anywhere in a commit leaves the previous manifest — and only
    fully consistent state — readable."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    @property
    def _path(self) -> str:
        return os.path.join(self.root, "_MANIFEST")

    def read(self) -> dict | None:
        import json

        try:
            with open(self._path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def commit(self, manifest: dict) -> None:
        import json

        _durable_replace(self.root, self._path, json.dumps(manifest))


def to_merge_sql(
    table: str,
    keys: list[str],
    cols: list[str],
    on_matched_sql: dict[str, str] | None = None,
    source: str = "_incoming",
) -> str:
    """The Iceberg/Delta ``MERGE INTO`` statement with the exact
    semantics ``merge_upsert`` emulates on parquet — the plan-A sink
    interface the north-star names (reference upsert semantics:
    bidSaver.py:37-395, models/models.py:51-90). On a cluster with a v2
    catalog the call site is ``spark.sql(to_merge_sql(...))`` against a
    temp view ``source``; on plain parquet ``merge_upsert`` executes the
    same semantics. Tests pin this generator's syntax with Spark's SQL
    parser and execute its output in DuckDB, rewritten as
    ``INSERT … ON CONFLICT … DO UPDATE``, against ``merge_upsert``.

    ``on_matched_sql`` gives per-column UPDATE expressions over aliases
    ``t`` (target) / ``s`` (source) — e.g. counter accumulation
    ``coalesce(t.bid_count,0)+coalesce(s.bid_count,0)``; unlisted columns
    take the source value (full-row update-else-insert, like the
    reference's query-before-write upsert)."""
    on_matched_sql = on_matched_sql or {}
    data_cols = [c for c in cols if c not in keys]
    on = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
    sets = ", ".join(
        f"t.{c} = {on_matched_sql.get(c, f's.{c}')}" for c in data_cols
    )
    col_list = ", ".join(cols)
    val_list = ", ".join(f"s.{c}" for c in cols)
    update = f"WHEN MATCHED THEN UPDATE SET {sets} " if data_cols else ""
    return (
        f"MERGE INTO {table} t USING {source} s ON {on} "
        f"{update}"
        f"WHEN NOT MATCHED THEN INSERT ({col_list}) VALUES ({val_list})"
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    on_matched_sql: dict[str, str] | None = None,
    on_duplicate: str = "dedup",
) -> DataFrame:
    """Set-oriented MERGE: WHEN MATCHED update / WHEN NOT MATCHED insert.

    - ``source`` is first deduplicated on ``keys``: the row kept is the
      greatest in (keys, data columns) order. Key columns alone cannot
      break ties between rows sharing that key, so a keys-only order
      would keep a shuffle-dependent arbitrary row when the same key
      arrives with different payloads. Every column must therefore be
      orderable (no map columns).
    - ``on_duplicate``: ``"dedup"`` (default, above) or ``"error"`` —
      fail the job when the source carries duplicate keys, matching
      Iceberg ``MERGE INTO`` (which raises on multiple matching source
      rows). ADDITIVE ``on_matched_sql`` rules (counter accumulation)
      MUST use ``"error"``: silent last-wins dedup would drop an
      increment, diverging from the reference's row-at-a-time upsert —
      such callers pre-aggregate their batch per key instead. The check
      is lazy (a window count + assert inside the same shuffle), costing
      no extra action.
    - default matched behavior: source column replaces target column when
      source is matched (full-row update, like bidSaver.py's
      update-else-insert); per-column overrides via ``on_matched_sql``
      express side effects like ``bid_count = t.bid_count + 1``
      (CompanyEmployee.py:121-122). They are the SQL strings
      ``to_merge_sql`` emits, over the same ``t`` (target) / ``s``
      (source) aliases, evaluated with ``F.expr``; a rule for a column
      the frames lack is skipped.
    - implemented as one full_outer join on the keys → one shuffle, AQE
      handles skew; at cluster scale this call site becomes Iceberg
      MERGE INTO with identical semantics.
    - the join key is the PACKED ``struct(*keys)`` compared with plain
      ``==`` (struct equality is null-safe — verified: NULL fields
      compare equal, so NULL-keyed rows still pair up exactly as the
      previous per-column ``eqNullSafe`` did). Packing matters for the
      plan: ``eqNullSafe`` makes the join hash on
      ``(coalesce(k, 0), isnull(k))`` while the source-dedup window
      hashes on plain ``k``, so the source side paid TWO exchanges +
      two sorts; with both the window and the join keyed on the same
      ``_k`` attribute the window's exchange satisfies the join's
      requirement and the source is shuffled once (plan: 3 Exchange →
      2 for the merge itself, measured in plans/r06/merge_upsert_*).
    """
    on_matched_sql = on_matched_sql or {}
    data_cols = [c for c in target.columns if c not in keys]
    if set(target.columns) != set(source.columns):
        # explicit raise (assert vanishes under python -O): a mismatch
        # would otherwise surface as a confusing missing-column
        # AnalysisException deep inside the join
        raise ValueError(
            f"schema mismatch: {target.columns} vs {source.columns}"
        )
    if on_duplicate not in ("dedup", "error"):
        raise ValueError(f"on_duplicate must be 'dedup' or 'error', got {on_duplicate!r}")

    packed = F.struct(*[F.col(k) for k in keys])
    source = source.withColumn("_k", packed)

    if on_duplicate == "error":
        # lazy duplicate-key detection riding the same per-key shuffle:
        # assert_true raises at execution time on the first key with >1
        # source rows (Iceberg MERGE INTO's multiple-match error). The
        # check lives in a FILTER predicate so column pruning can't
        # remove it.
        wc = Window.partitionBy("_k")
        src = (
            source.withColumn("_kc", F.count(F.lit(1)).over(wc))
            .filter(
                F.assert_true(
                    F.col("_kc") == 1,
                    F.concat(
                        F.lit(
                            "merge_upsert(on_duplicate='error'): duplicate "
                            f"source rows for key {keys}: "
                        ),
                        *[F.concat(F.col(k).cast("string"), F.lit(" ")) for k in keys],
                    ),
                ).isNull()
            )
            .drop("_kc")
        )
    else:
        w = Window.partitionBy("_k").orderBy(*[F.col(c).desc() for c in keys + data_cols])
        src = (
            source.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    # presence markers survive the outer join even when key columns are
    # legitimately NULL (the packed-struct join key is null-safe)
    t = target.withColumn("_k", packed).withColumn("_t_present", F.lit(True)).alias("t")
    s = src.withColumn("_s_present", F.lit(True)).alias("s")
    joined = t.join(s, on=F.col("t._k") == F.col("s._k"), how="full_outer")
    s_present = F.col("s._s_present").isNotNull()
    t_present = F.col("t._t_present").isNotNull()

    out_cols = []
    for k in keys:
        out_cols.append(F.coalesce(F.col(f"s.{k}"), F.col(f"t.{k}")).alias(k))
    for c in data_cols:
        upd = F.expr(on_matched_sql[c]) if c in on_matched_sql else F.col(f"s.{c}")
        out_cols.append(
            F.when(s_present & t_present, upd)
            .when(s_present, F.col(f"s.{c}"))
            .otherwise(F.col(f"t.{c}"))
            .alias(c)
        )
    return joined.select(*out_cols)
