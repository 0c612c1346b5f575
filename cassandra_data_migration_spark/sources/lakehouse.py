"""Copy-on-write MERGE (upsert) over a plain-parquet table with
footer-stats file pruning — the lakehouse primitive behind
``MERGE INTO`` in Delta/Iceberg/Hudi, re-expressed on nothing but
parquet + Spark.

Why it matters at 100 TB: an upsert that rewrites the whole table
costs a full read+write per merge; copy-on-write rewrites ONLY the
files whose key range intersects the update keys.  With the table
laid out range-partitioned on the merge key (repartitionByRange +
sortWithinPartitions — the layout `zorder_keys`/`rowgroup_stats`
audit), a point-y update batch touches a handful of files and merge
cost tracks the UPDATE size, not the table size.

Protocol (same shape as Delta's COW path):

1. footer scan: per-file min/max of the key column from parquet
   row-group statistics — distributed ``mapInPandas`` over the file
   list (metadata only, no row data; same pattern as
   ``files.parquet_rowgroup_stats``).
2. prune: a file is TOUCHED iff some update key lands in its
   [min, max].  Update keys join the (tiny, broadcast) range table;
   the touched list is O(files) on the driver.
3. rewrite: read touched files only, anti-join their rows against the
   update keys, union the full update batch (matched rows replaced,
   unmatched keys inserted), write as NEW files into the table
   directory, then delete the touched originals.

Durability: two modes.

- **Bare mode** (no snapshots committed): single-writer land-then-
  remove.  Not atomic under concurrent readers; a crash between
  landing and removal leaves duplicate rows that a rerun of the SAME
  merge removes (key-dedup + range-overlap closure), never lost rows.
- **Manifest mode** (``snapshot_commit`` has published a version):
  the merge reads the latest manifest's file view, deletes NOTHING,
  and publishes the next version by atomic rename — concurrent
  manifest readers see a consistent version at every instant, old
  versions stay readable (``read_snapshot`` time travel) until
  ``vacuum_snapshots`` reclaims them (orphans from a crashed merge
  included).  This is the Delta/Iceberg core protocol with one JSON
  per version and none of the format machinery.
"""

from __future__ import annotations

import math
import os
import uuid
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class MergeStats:
    files_total: int
    files_rewritten: int
    rows_written: int


# footer reads for tables with at most this many files run on the
# driver (see parquet_key_ranges)
DRIVER_FOOTER_MAX = 64


def parquet_key_ranges(
    spark: SparkSession,
    path: str,
    key_col: str,
    files: list[str] | None = None,
    key_type: str = "long",
) -> DataFrame:
    """(file, key_min, key_max) per data file from row-group footer
    statistics — distributed, metadata-only.  ``files`` restricts the
    scan to an explicit list (a snapshot manifest's view);
    ``key_type`` is the key column's Spark DDL type (long and string
    keys are supported — the TPC-H/CDM PK shapes).

    String caveat: parquet may store TRUNCATED min/max for long
    strings, and a truncated max can understate the true bound —
    pruning on it would silently skip a file that holds a matching
    key.  Where pyarrow exposes exactness flags they are honored;
    inexact (or flag-less non-exact-typed) stats degrade the file to
    an unbounded range, i.e. always touched — correct, never fast at
    the expense of right.

    Small tables read their footers ON THE DRIVER (round 12): the
    result is O(files) rows that every caller collects to the driver
    anyway (cow_merge's touch test), so for file counts up to
    ``DRIVER_FOOTER_MAX`` (64) a Spark job + a
    Python-worker round trip per merge buys nothing — footer reads
    are pure driver-bounded metadata either way (guide §5: the driver
    may do O(metadata) work, never O(data)).  Larger tables keep the
    distributed mapInPandas scan."""
    if files is None:
        files = spark.read.parquet(path).inputFiles()
    if len(files) <= DRIVER_FOOTER_MAX:
        rows = [
            (local, *_footer_key_range(local, key_col))
            for local in (
                f[5:] if f.startswith("file:") else f for f in files
            )
        ]
        return spark.createDataFrame(
            rows, f"file string, key_min {key_type}, key_max {key_type}"
        )
    fdf = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(max(1, math.ceil(len(files) / 64)))

    def scan(batches: Iterator) -> Iterator:
        import pandas as pd

        for p in batches:
            out = {"file": [], "key_min": [], "key_max": []}
            for f in p["file"]:
                local = f[5:] if f.startswith("file:") else f
                lo, hi = _footer_key_range(local, key_col)
                out["file"].append(local)
                out["key_min"].append(lo)
                out["key_max"].append(hi)
            yield pd.DataFrame(out)

    return fdf.mapInPandas(
        scan, f"file string, key_min {key_type}, key_max {key_type}"
    )


def _footer_key_range(local: str, key_col: str) -> tuple:
    """(key_min, key_max) of one parquet file from row-group footer
    statistics; (None, None) when any row group's stats are missing or
    inexact (truncated string bounds) — the file then reads as an
    unbounded range, i.e. always touched."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(local).metadata
    idx = {
        md.schema.column(i).name: i for i in range(md.num_columns)
    }[key_col]
    lo = hi = None
    for i in range(md.num_row_groups):
        st = md.row_group(i).column(idx).statistics
        exact = st is not None and st.has_min_max and (
            getattr(st, "is_min_value_exact", True) is not False
            and getattr(st, "is_max_value_exact", True) is not False
        )
        if not exact:
            return None, None
        mn = st.min.decode() if isinstance(st.min, bytes) else st.min
        mx = st.max.decode() if isinstance(st.max, bytes) else st.max
        lo = mn if lo is None else min(lo, mn)
        hi = mx if hi is None else max(hi, mx)
    return lo, hi


def cow_merge(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_col: str | list[str],
    delete_keys: DataFrame | None = None,
    writetime_col: str | None = None,
) -> MergeStats:
    """MERGE ``updates`` into the parquet table at ``target_path`` on
    ``key_col``: matched keys are REPLACED by the update row, unmatched
    keys are INSERTED, and keys in ``delete_keys`` (columns matching
    the key) are REMOVED — the full WHEN MATCHED UPDATE/DELETE + WHEN
    NOT MATCHED INSERT triad.  Update keys must be unique (the caller
    dedups; an ambiguous multi-row update has no MERGE semantics).

    ``key_col`` may be a LIST — the Cassandra partition+clustering PK
    shape.  Row matching uses the full composite; file pruning uses
    footer stats of the LEADING key only (lay the table out
    range-partitioned on it), so a composite merge touches every file
    whose leading-key range intersects — conservative, never wrong.

    With ``writetime_col``, matched keys resolve last-write-wins
    instead of unconditionally replacing: the newer writetime survives
    (ties favor the update) — CDM's AutoCorrect reconciliation rule
    (docs/04-cdm-approach.md autocorrect) applied at the table layer,
    so replaying an old extract over a fresher table is harmless.

    Only key-range-intersecting files are read/rewritten; the rest of
    the table is untouched on disk (byte-identical files, pinned by
    tests)."""
    # sweep temp dirs a crashed earlier merge left behind (never
    # referenced by readers; single-writer contract as documented).
    # Temps are staged INSIDE target_path (underscore-prefixed, so
    # Spark's listing ignores them) — sweeping here can only ever
    # touch THIS table's debris, never a sibling table's in-flight
    # merge output sharing the same parent directory.
    import shutil as _shutil

    for d in os.listdir(target_path):
        if d.startswith("_cow_"):
            _shutil.rmtree(os.path.join(target_path, d), ignore_errors=True)

    # MANIFEST MODE: when the table has committed snapshots, the
    # merge's view is the LATEST version's file list (stale files a
    # past merge superseded are invisible), the new version is
    # committed atomically at the end, and NOTHING is deleted — old
    # versions stay readable (time travel) until vacuum_snapshots
    # reclaims them.  Without manifests the original single-writer
    # land-then-remove protocol applies.
    versions = snapshot_versions(target_path)
    manifest_files = None
    if versions:
        import json as _json

        with open(
            os.path.join(_manifest_dir(target_path), f"v{versions[-1]}.json")
        ) as fh:
            manifest_files = [
                os.path.join(target_path, f)
                for f in _json.load(fh)["files"]
            ]

    # ONE footer-scan job: the collected (file, lo, hi) rows feed both
    # the distributed touch test (rebuilt as a local DataFrame — it is
    # O(files) driver memory either way, same as inputFiles()) and the
    # driver-side overlap closure
    key_cols = [key_col] if isinstance(key_col, str) else list(key_col)
    lead = key_cols[0]
    key_type = dict(updates.dtypes).get(lead, "long")
    if key_type not in ("bigint", "long", "int", "string"):
        raise ValueError(
            f"cow_merge supports long/int/string merge keys, got "
            f"{key_type} for {lead}"
        )
    ddl_type = "string" if key_type == "string" else "long"
    range_rows = parquet_key_ranges(
        spark, target_path, lead, files=manifest_files, key_type=ddl_type
    ).collect()
    ranges = spark.createDataFrame(
        [(r["file"], r["key_min"], r["key_max"]) for r in range_rows],
        f"file string, key_min {ddl_type}, key_max {ddl_type}",
    )
    if delete_keys is not None and len(delete_keys.columns) != len(
        key_cols
    ):
        raise ValueError(
            f"delete_keys must have {len(key_cols)} column(s) matching "
            f"the merge key {key_cols}, got {delete_keys.columns}"
        )
    # pruning works on the LEADING key; matching uses the composite
    keys = updates.select(F.col(lead).alias("_k")).distinct()
    if delete_keys is not None:
        keys = keys.unionByName(
            delete_keys.toDF(*key_cols)
            .select(F.col(lead).alias("_k"))
            .distinct()
        ).distinct()
    touched_rows = (
        keys.join(
            F.broadcast(ranges),
            (
                (F.col("_k") >= F.col("key_min"))
                & (F.col("_k") <= F.col("key_max"))
            )
            | F.col("key_min").isNull(),  # stats-less file: always touched
            "inner",
        )
        .select("file")
        .distinct()
        .collect()
    )
    touched = {r["file"] for r in touched_rows}
    # OVERLAP CLOSURE: any file whose key range overlaps a touched
    # file joins the rewrite.  On a disjoint range layout (the COW
    # norm — repartitionByRange + sort, restored by compaction) this
    # is the identity and costs one driver pass over O(files) ranges.
    # It exists for the crash-repair rerun: the crashed merge's new
    # files hold survivor COPIES of the old touched file but may
    # contain no update key, so key pruning alone would leave the
    # duplicate halves on disk forever.  Driver-side fixpoint over
    # footer ranges only — no data moves.
    ivals = {
        r["file"]: (r["key_min"], r["key_max"]) for r in range_rows
    }
    changed = True
    while changed:
        changed = False
        spans = [
            ivals[f] for f in touched if ivals.get(f, (None, None))[0] is not None
        ]
        for f, (lo, hi) in ivals.items():
            if f in touched:
                continue
            if lo is None or any(lo <= h and l <= hi for l, h in spans):
                touched.add(f)
                changed = True
    touched = sorted(touched)
    current_files = (
        manifest_files
        if manifest_files is not None
        else spark.read.parquet(target_path).inputFiles()
    )
    n_files = len(current_files)

    base = (
        spark.read.parquet(*touched)
        if touched
        else spark.read.parquet(target_path).limit(0)
    )
    # key-dedup the touched rows before the anti-join: a MERGE target
    # is unique-keyed, so under normal operation this drops nothing —
    # it exists for the crash window where new files landed but the
    # originals weren't yet removed.  Rerunning the SAME merge then
    # reads both copies of each row; survivor copies are identical
    # (arbitrary pick is safe) and update-key rows are replaced by the
    # update batch regardless, so the rerun converges to exactly-once.
    # (A DIFFERENT merge must not run between crash and repair — the
    # stale/updated copies of the crashed merge's keys are ambiguous
    # to it; the run-tracker discipline in plans/tracker.py is the
    # re-run-same-work contract this mirrors.)
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col("__file"))
    deduped = (
        base.withColumn("__file", F.input_file_name())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__file", "__rn")
    )
    # composite-exact match set (name-aligned broadcast anti-joins)
    match_keys = updates.select(*key_cols).distinct()
    if delete_keys is not None:
        match_keys = match_keys.unionByName(
            delete_keys.toDF(*key_cols).distinct()
        ).distinct()
    if writetime_col is None:
        survivors = deduped.join(
            F.broadcast(match_keys), key_cols, "left_anti"
        )
        merged = survivors.unionByName(updates.select(*base.columns))
    else:
        # LWW mode — CDM AutoCorrect onto the lake: per matched key
        # the NEWER writetime wins (ties favor the update, so a
        # redelivered batch overwrites itself idempotently); a STALE
        # update loses and the base row stays.  Same winner rule as
        # streaming/lww.lww_merge, which resolves it.
        from cassandra_data_migration_spark.streaming.lww import lww_merge

        merged = lww_merge(
            deduped,
            updates.select(*base.columns),
            key_cols,
            writetime_col,
        )
        if delete_keys is not None:
            merged = merged.join(
                F.broadcast(delete_keys.toDF(*key_cols).distinct()),
                key_cols,
                "left_anti",
            )

    # rows-written rides the write job itself (Observation — no second
    # scan, same discipline as plans/migrate.py)
    from pyspark.sql import Observation

    obs = Observation()
    merged = merged.observe(obs, F.count(F.lit(1)).alias("rows"))
    out_tmp = os.path.join(
        target_path.rstrip("/"),
        f"_cow_{uuid.uuid4().hex}",
    )
    merged.write.parquet(out_tmp)
    rows_written = int(obs.get["rows"])

    import shutil

    # new files land first, originals are removed last: a crash in
    # between leaves re-runnable duplicates, never lost rows
    moved = []
    for f in os.listdir(out_tmp):
        if f.endswith(".parquet"):
            name = f"cow-{uuid.uuid4().hex}.parquet"
            shutil.move(
                os.path.join(out_tmp, f), os.path.join(target_path, name)
            )
            moved.append(name)
    shutil.rmtree(out_tmp, ignore_errors=True)
    if manifest_files is not None:
        # versioned table: publish the new file list atomically, keep
        # the old files for time travel (vacuum reclaims them later)
        touched_names = {
            os.path.basename(f.replace("file:", "")) for f in touched
        }
        new_files = sorted(
            (
                {os.path.basename(f.replace("file:", "")) for f in current_files}
                - touched_names
            )
            | set(moved)
        )
        snapshot_commit(
            target_path,
            files=new_files,
            schema_json=merged.schema.json(),
        )
    else:
        for f in touched:
            os.remove(f)
    return MergeStats(
        files_total=n_files,
        files_rewritten=len(touched),
        rows_written=rows_written,
    )


def cow_delete(
    spark: SparkSession,
    target_path: str,
    delete_keys: DataFrame,
    key_col: str,
) -> MergeStats:
    """DELETE by key — the merge with an empty replacement set: same
    footer pruning, same rewrite/manifest protocol, matched rows
    simply not rewritten."""
    empty_updates = spark.read.parquet(target_path).limit(0)
    return cow_merge(
        spark, target_path, empty_updates, key_col, delete_keys=delete_keys
    )


# ---------------------------------------------------------------------------
# Snapshot manifests: the minimal transaction log that upgrades the
# COW table to versioned reads (time travel) and closes the
# concurrent-reader window the module docstring flags — a manifest
# reader never sees the land-new-files/remove-old gap, because a
# version IS its file list and versions are published by atomic
# rename.  This is the Delta/Iceberg core idea with none of the
# format machinery: one JSON per version under _manifests/.
# ---------------------------------------------------------------------------


def _manifest_dir(target_path: str) -> str:
    return os.path.join(target_path, "_manifests")


def _manifest_files(target_path: str, version: int) -> list[str]:
    import json

    with open(
        os.path.join(_manifest_dir(target_path), f"v{version}.json")
    ) as fh:
        return json.load(fh)["files"]


def snapshot_versions(target_path: str) -> list[int]:
    d = _manifest_dir(target_path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
    )


def snapshot_commit(
    target_path: str,
    files: list[str] | None = None,
    schema_json: str | None = None,
) -> int:
    """Publish a file list as the next version.  Atomic: written to a
    temp name, then renamed — readers see either the old latest
    version or the new one, never a partial list.

    Without ``files``, the directory's current data files are used —
    valid only for the INITIAL commit (after a plain write); once
    merges have run under manifests, stale superseded files coexist
    on disk and only the merge (which knows the survivor set) may
    commit."""
    import json

    if files is None:
        if snapshot_versions(target_path):
            raise ValueError(
                "directory-listing commit is only valid for the initial "
                "version; later versions are committed by cow_merge"
            )
        files = sorted(
            f
            for f in os.listdir(target_path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    d = _manifest_dir(target_path)
    os.makedirs(d, exist_ok=True)
    versions = snapshot_versions(target_path)
    v = (versions[-1] + 1) if versions else 0
    tmp = os.path.join(d, f".v{v}.json.tmp")
    manifest = {"version": v, "files": files}
    if schema_json is not None:
        # carried so an all-rows-deleted version (empty file list)
        # stays READABLE as an empty typed DataFrame — without it the
        # table's latest version would raise on read
        manifest["schema"] = schema_json
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, os.path.join(d, f"v{v}.json"))
    return v


def read_snapshot(
    spark: SparkSession, target_path: str, version: int | None = None
) -> DataFrame:
    """Read the table AS OF a version (default: latest).  Files added
    by later merges are invisible; files a later merge removed must
    still exist — vacuum respects the retained version horizon."""
    import json

    versions = snapshot_versions(target_path)
    if not versions:
        raise ValueError(f"no snapshots committed under {target_path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions}")
    with open(os.path.join(_manifest_dir(target_path), f"v{v}.json")) as fh:
        manifest = json.load(fh)
    paths = [os.path.join(target_path, f) for f in manifest["files"]]
    if not paths:
        # a merge/delete can legitimately commit a zero-file version
        # (every key deleted) — the version must stay readable as an
        # empty typed DataFrame, not raise on an empty path list
        from pyspark.sql.types import StructType

        if "schema" in manifest:
            schema = StructType.fromJson(json.loads(manifest["schema"]))
        else:
            # donor must be an OLDER-or-equal version: typing a
            # time-travel read with a later version's evolved schema
            # would misrepresent what was current at v
            donors = [
                u
                for u in versions
                if u <= v and _manifest_files(target_path, u)
            ]
            if not donors:
                raise ValueError(
                    f"version {v} is empty and no version at or before "
                    f"it carries a schema to type it"
                )
            schema = read_snapshot(spark, target_path, donors[-1]).schema
        return spark.createDataFrame([], schema)
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        raise ValueError(
            f"version {v} references vacuumed files: {missing[:3]}"
        )
    return spark.read.parquet(*paths)


def vacuum_snapshots(target_path: str, keep_versions: int = 2) -> list[str]:
    """Delete data files referenced ONLY by versions older than the
    retained horizon (plus their manifests).  Returns removed files.
    The current files on disk are always retained."""
    import json

    versions = snapshot_versions(target_path)
    if not versions:
        return []
    # the latest version is NEVER reclaimable — keep_versions < 1
    # would otherwise delete every data file of a live table
    kept = set(versions[-max(1, keep_versions):])
    live: set[str] = set()
    for v in kept:
        with open(
            os.path.join(_manifest_dir(target_path), f"v{v}.json")
        ) as fh:
            live |= set(json.load(fh)["files"])
    removed = []
    for v in versions:
        if v in kept:
            continue
        os.remove(os.path.join(_manifest_dir(target_path), f"v{v}.json"))
    # remove every data file no RETAINED version references — covers
    # expired versions' files AND orphans from a merge that crashed
    # between landing files and committing (single-writer contract:
    # no in-flight merge can be racing this)
    for f in os.listdir(target_path):
        if (
            f.endswith(".parquet")
            and not f.startswith(("_", "."))
            and f not in live
        ):
            os.remove(os.path.join(target_path, f))
            removed.append(f)
    return removed


def optimize_snapshot(
    spark: SparkSession,
    target_path: str,
    key_col: str,
    num_files: int = 8,
) -> int:
    """OPTIMIZE for the versioned COW table: rewrite the LATEST
    snapshot range-partitioned + sorted on the merge key and publish
    it as the next version.  Merges widen file key-ranges over time
    (each rewrite spans touched-∪-update keys), which erodes the
    pruning that keeps merge cost ∝ update size; this restores
    disjoint ranges, exactly like Delta's OPTIMIZE restores its
    clustering.  Old versions stay readable until vacuum.  Returns
    the new version number."""
    if not snapshot_versions(target_path):
        raise ValueError("optimize_snapshot requires a committed snapshot")
    cur = read_snapshot(spark, target_path)
    out_tmp = os.path.join(
        target_path.rstrip("/"),
        f"_cow_{uuid.uuid4().hex}",
    )
    (
        cur.repartitionByRange(num_files, key_col)
        .sortWithinPartitions(key_col)
        .write.parquet(out_tmp)
    )
    import shutil

    moved = []
    for f in os.listdir(out_tmp):
        if f.endswith(".parquet"):
            name = f"opt-{uuid.uuid4().hex}.parquet"
            shutil.move(
                os.path.join(out_tmp, f), os.path.join(target_path, name)
            )
            moved.append(name)
    shutil.rmtree(out_tmp, ignore_errors=True)
    return snapshot_commit(
        target_path, files=sorted(moved), schema_json=cur.schema.json()
    )


def snapshot_changes(
    spark: SparkSession,
    target_path: str,
    v_from: int,
    v_to: int,
    key_col: str,
) -> DataFrame:
    """Change data feed between two versions: one row per key whose
    state differs — ``change_type`` ∈ insert/delete/update, with the
    full old/new row as structs (callers project the columns they
    care about).  Unchanged keys are dropped.

    Plan: two manifest reads full-outer-joined on the key; the struct
    comparison is one null-safe equality over packed columns, so the
    diff costs a single co-partitioned join of the two snapshots —
    no per-column join fan-out.  At 100 TB diff two versions that
    share most files by first removing the INTERSECTION of their
    manifests' file lists from both sides (identical files cannot
    produce changes); this fixture-scale implementation reads both
    snapshots whole."""
    a = read_snapshot(spark, target_path, v_from)
    b = read_snapshot(spark, target_path, v_to)
    others = [c for c in a.columns if c != key_col]
    a2 = a.select(key_col, F.struct(*others).alias("_old"))
    b2 = b.select(key_col, F.struct(*others).alias("_new"))
    j = a2.join(b2, key_col, "full_outer")
    change = (
        F.when(F.col("_old").isNull(), F.lit("insert"))
        .when(F.col("_new").isNull(), F.lit("delete"))
        .when(~F.col("_old").eqNullSafe(F.col("_new")), F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        F.col(key_col), change.alias("change_type"), "_old", "_new"
    ).filter(F.col("change_type") != "unchanged")
