"""Batch change-data-feed: ``table_changes`` over a version range.

Delta exposes its CDF both as a stream AND as a batch relation
(``table_changes('t', v1, v2)``); the streaming half shipped in r7
(streaming/source.py, mode=cdc). This is the batch half — the shape an
incremental ETL or audit job actually wants: "give me every change to
``t`` between the version my last run saw and now", as one DataFrame,
no checkpoint machinery.

Semantics match the streaming feed exactly (file-granularity CDF, like
Delta CDF without change files — multiset-correct to fold, not
row-minimal):

- each commit in the range is diffed against ITS OWN parent on the
  branch's first-parent chain;
- removed files emit their rows as ``delete`` (excluding positions the
  parent's deletion vector had already deleted — else a fold
  double-deletes), added files emit ``insert`` (excluding the current
  vector's positions);
- a deletion-vector change on a SURVIVING file emits ``delete`` rows at
  exactly the newly vectored positions — so ``delete_where_dv`` /
  ``update_where_dv`` commits feed precise row-level changes;
- ``data_change=false`` commits (OPTIMIZE/compaction) emit nothing;
- revoked deletions on surviving files (restore to a pre-vector
  version) and mid-range schema changes are not representable — loud
  errors, never silent corruption.

Scale shape: one column-pruned scan per changed file group per commit;
the only joins are against the deletion vector (a few rows per file —
broadcast-sized). No shuffle, no driver collect of data rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from manage_versions_of_data_in_data_lake_using_lakefs_spark.runtime import local_df


def _files_of(root: str, entries: list[str]) -> list[str]:
    """Commit entries → relative parquet file paths. Entries may be
    file-group dirs, individual part-files (pruned rewrites), or Hive
    partition trees. A vanished entry (vacuumed history) is a hard
    error: silently skipping it would emit an incomplete feed."""
    out: list[str] = []

    def walk(rel: str) -> None:
        full = os.path.join(root, rel)
        for fn in sorted(os.listdir(full)):
            sub = os.path.join(rel, fn)
            if os.path.isdir(os.path.join(root, sub)):
                walk(sub)
            elif fn.endswith(".parquet"):
                out.append(sub)

    for e in entries:
        full = os.path.join(root, e)
        if os.path.isdir(full):
            walk(e)
        elif os.path.exists(full):
            out.append(e)
        else:
            raise FileNotFoundError(
                f"table_changes: commit entry {e} was vacuumed; its change "
                f"rows are unrecoverable — keep retention >= the range you "
                f"audit, or start past the vacuumed version"
            )
    return out


def table_changes(
    repo,
    spark: SparkSession,
    table: str,
    starting_version: int,
    ending_version: int | None = None,
    ref: str = "main",
) -> DataFrame:
    """Every change to ``table`` in commits with
    ``starting_version <= version <= ending_version`` (default: the
    branch head), as one DataFrame: the table's columns plus
    ``_change_type`` ('insert' | 'delete') and ``_commit_version``.

    Rows fold to state: grouping on the payload and summing
    +1/−1 per insert/delete over (v0, v] reproduces exactly the
    snapshot diff between the two versions.
    """
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.repo import DV_PREFIX

    head = repo.head(ref)
    end = ending_version if ending_version is not None else head.version
    # first-parent chain, oldest-first, bracketed to the range
    chain = []
    c = head
    while c is not None and c.version >= starting_version:
        if c.version <= end:
            chain.append(c)
        c = repo.get_commit(c.parents[0]) if c.parents else None
    chain.reverse()
    if not chain:
        raise ValueError(
            f"table_changes: no commits of {ref!r} in versions "
            f"[{starting_version}, {end}]"
        )

    # mid-range schema changes are not representable as one relation
    # (Delta CDF fails the same way); constant maps replay fine
    smaps = {
        repr(repo._schema_map_of_commit(cc, table)) for cc in chain
    }
    parent0 = (
        repo.get_commit(chain[0].parents[0]) if chain[0].parents else None
    )
    if parent0 is not None:
        smaps.add(repr(repo._schema_map_of_commit(parent0, table)))
    if len(smaps) > 1:
        raise NotImplementedError(
            f"table_changes: {table!r}'s schema mapping changed inside the "
            f"version range — split the range at the ALTER commit"
        )
    smap = repo._schema_map_of_commit(chain[-1], table)

    prefix = "file:" + repo.root + os.sep

    def dv_df(entries):
        d = repo._read_files(spark, entries)
        return d.select(
            F.concat(F.lit(prefix), F.col("file")).alias("__lg_fp"),
            F.col("pos").cast("long").alias("__lg_ri"),
        )

    def tagged(files, version, tag, dv_entries=None, only_dv=None):
        """Rows of ``files`` (lineage-read), minus ``dv_entries``
        positions / restricted to ``only_dv`` positions, tagged."""
        df = repo._read_files(spark, files, merge_schema=bool(smap), with_lineage=True)
        if dv_entries:
            df = df.join(dv_df(dv_entries), ["__lg_fp", "__lg_ri"], "left_anti")
        if only_dv is not None:
            df = df.join(only_dv, ["__lg_fp", "__lg_ri"], "left_semi")
        df = df.drop("__lg_fp", "__lg_ri")
        if smap:
            df = repo.apply_schema_map(df, smap)
        return df.withColumn("_change_type", F.lit(tag)).withColumn(
            "_commit_version", F.lit(version).cast("long")
        )

    parts: list[DataFrame] = []
    probes: list[DataFrame] = []  # revocation checks, batched to ONE job
    dvt = DV_PREFIX + table
    for cc in chain:
        parent = repo.get_commit(cc.parents[0]) if cc.parents else None
        prev_e = parent.tables.get(table, []) if parent else []
        cur_e = cc.tables.get(table, [])
        dv_prev = parent.tables.get(dvt, []) if parent else []
        dv_cur = cc.tables.get(dvt, [])
        if prev_e == cur_e and dv_prev == dv_cur:
            continue
        if cc.meta.get("data_change") is False:
            continue  # pure rearrangement: the multiset is unchanged
        prev = set(_files_of(repo.root, prev_e))
        cur = set(_files_of(repo.root, cur_e))
        removed, added = sorted(prev - cur), sorted(cur - prev)
        if removed:
            parts.append(
                tagged(removed, cc.version, "delete", dv_entries=dv_prev or None)
            )
        if added:
            parts.append(
                tagged(added, cc.version, "insert", dv_entries=dv_cur or None)
            )
        if dv_prev != dv_cur:
            survive = sorted(prev & cur)
            prev_pos = dv_df(dv_prev) if dv_prev else None
            cur_pos = dv_df(dv_cur) if dv_cur else None
            # vector file groups are immutable, so entry-set containment
            # proves no positions were removed — the common pure-append
            # case (delete_where_dv / update_where_dv) skips the eager
            # revocation probe job entirely
            if survive and prev_pos is not None and not set(dv_prev) <= set(dv_cur):
                surv_df = local_df(spark,
                    [(prefix + f,) for f in survive], schema="__lg_fp string"
                )
                revoked = prev_pos.join(
                    F.broadcast(surv_df), "__lg_fp", "left_semi"
                )
                if cur_pos is not None:
                    revoked = revoked.join(
                        cur_pos, ["__lg_fp", "__lg_ri"], "left_anti"
                    )
                # deferred: a long range with many restore-shaped commits
                # would otherwise pay one driver-paced job per commit —
                # the union below makes the whole range ONE probe job
                probes.append(
                    revoked.select(
                        F.lit(cc.version).cast("long").alias("_v")
                    )
                )
            if survive and cur_pos is not None:
                newly = cur_pos
                if prev_pos is not None:
                    newly = newly.join(prev_pos, ["__lg_fp", "__lg_ri"], "left_anti")
                parts.append(
                    tagged(survive, cc.version, "delete", only_dv=newly)
                )
    if probes:
        probe = probes[0]
        for p in probes[1:]:
            probe = probe.unionByName(p)
        # MIN keeps the error deterministic: "split the range" must name
        # the FIRST offending version, or the user iterates blindly
        hit = probe.agg(F.min("_v").alias("_v")).collect()[0]["_v"]
        if hit is not None:
            raise ValueError(
                f"table_changes: version {hit} REMOVED "
                f"deletion-vector positions for surviving files of "
                f"{table!r} (un-delete via restore) — not representable "
                f"as a change feed; split the range"
            )
    if not parts:
        # empty feed with the right schema: head read minus rows
        base = repo.read_table(spark, table, ref).limit(0)
        return base.withColumn("_change_type", F.lit("")).withColumn(
            "_commit_version", F.lit(0).cast("long")
        ).limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
