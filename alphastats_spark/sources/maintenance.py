"""Small-file compaction for materialized parquet index tables.

The index maintenance paths are deliberately O(batch) appends —
``similarity.append_to_ivf_index`` parquet-appends into the inverted-list
partition directories and ``dedup.write_dedup_index(mode="append")`` does
the same for the LSH band table — so at ingest cadence (a daily crawl,
a streaming sink) every partition directory accumulates one small file
per batch. That is the classic metastore/scan-planning failure at scale:
a 16-list IVF index appended hourly for a year holds ~140k tiny files,
and the nprobe-pruned read spends longer listing than scanning.

``compact_partitioned_parquet`` rewrites only the directories that need
it (file count over a threshold), value-preserving and
metadata-preserving:

* per-directory output file count is sized from the directory's BYTES
  (``ceil(bytes / target_bytes)``), so compaction never merges a large
  partition into one unsplittable file;
* the rewrite goes through a temp directory and lands via Spark's
  dynamic partition-overwrite committer, so untouched partitions are
  never rewritten; the temp copy is deleted only AFTER the write-back
  commits, so a compaction that crashes mid-swap always leaves a
  complete copy of the affected data — in place (crash before the
  swap) or at ``<path>__compact_tmp`` (crash during it);
* nothing outside the selected partition directories is touched — the
  dedup index's ``meta`` parameter record lives in a sibling directory
  and survives verbatim.

Cites the maintenance surfaces it serves: ``functions/similarity.py``
(``append_to_ivf_index``) and ``functions/dedup.py``
(``write_dedup_index`` / ``admit_against_index``). The reference engine
has no materialized-index machinery; this module exists for the
100 TB ingest shape only.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Directories with more data files than this get rewritten.
DEFAULT_MAX_FILES = 4

#: Target output file size; per-directory output count = ceil(bytes/target).
DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any Hadoop-compatible scheme (local, HDFS,
    s3a, ...) — the same listing machinery Spark's own scan planner uses,
    so compaction sees exactly the files a read would."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _data_files(fs, jpath) -> list[tuple[str, int]]:
    """(name, bytes) of the DATA files directly under ``jpath`` —
    committer bookkeeping (``_SUCCESS``, dotfiles) excluded."""
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() or name.startswith("_") or name.startswith("."):
            continue
        out.append((name, int(st.getLen())))
    return out


def _partition_dirs(fs, jpath, partition_col: str) -> dict[str, "object"]:
    """partition value (string form) -> directory Path for every
    ``<partition_col>=<value>`` child of the table root."""
    prefix = f"{partition_col}="
    out = {}
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            out[name[len(prefix):]] = st.getPath()
    return out


def promote_staged_parquet(spark: SparkSession, staging: str, dest: str) -> None:
    """Move a freshly written parquet table (flat, or one partition level
    deep) from its private ``staging`` directory into ``dest`` by renaming
    data files — the append mechanism that never shares a commit namespace
    with any other writer.

    ``mode("append")`` writers all stage through ``<dest>/_temporary/0``
    (the Hadoop committer's job-attempt namespace), so two concurrent
    appends into one table corrupt each other's staging. Here each
    appender runs Spark's full commit protocol inside its OWN staging
    directory and only then renames the committed data files into place,
    so independent appends can overlap from a driver thread pool. File
    names keep their job-unique UUIDs — renames cannot collide. Renames
    are O(1) metadata moves on HDFS/local (object stores without atomic
    rename degrade to copies, as they do for every committer).

    Committer bookkeeping (``_SUCCESS``, dot-files) is not promoted; the
    staging directory is deleted after promotion. Crash mid-promotion can
    leave a PARTIAL append visible (some files moved, some not) — the
    same non-atomic window ``mode("append")``'s job commit has; re-run
    the append after removing the staged leftovers."""
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    fs, jsrc = _hadoop_fs(spark, staging)
    jdest = Path(dest)
    fs.mkdirs(jdest)
    for st in fs.listStatus(jsrc):
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        target = Path(f"{dest}/{name}")
        if st.isDirectory():
            # always file by file into a mkdirs'd target: renaming a whole
            # new partition directory after an exists() check races another
            # appender creating the same partition, and a directory renamed
            # onto an existing one lands INSIDE it (<p>/<p>/part-*)
            fs.mkdirs(target)
            for f in fs.listStatus(st.getPath()):
                fn = f.getPath().getName()
                if fn.startswith("_") or fn.startswith("."):
                    continue
                ftarget = Path(f"{dest}/{name}/{fn}")
                if not fs.rename(f.getPath(), ftarget):
                    raise IOError(
                        f"promote_staged_parquet: rename {f.getPath()} -> "
                        f"{ftarget} failed (name collision?)"
                    )
        else:
            if not fs.rename(st.getPath(), target):
                raise IOError(
                    f"promote_staged_parquet: rename {st.getPath()} -> "
                    f"{target} failed (name collision?)"
                )
    fs.delete(jsrc, True)


def compact_partitioned_parquet(
    spark: SparkSession,
    path: str,
    partition_col: str | None,
    max_files: int = DEFAULT_MAX_FILES,
    target_bytes: int = DEFAULT_TARGET_BYTES,
) -> dict:
    """Rewrite the partition directories of ``path`` that hold more than
    ``max_files`` data files into ``ceil(bytes / target_bytes)`` files
    each; directories at or under the threshold are not read, not
    rewritten, not touched. ``partition_col=None`` treats ``path`` as an
    UNPARTITIONED table and compacts the whole directory under the same
    rule.

    Value-preserving by construction — the rewrite is a read + shuffled
    write of the same rows (the driver-gated ``ann_ivf_compacted`` /
    ``dedup_index_compacted`` queries pin bit-identity against an oracle
    that never sees the index at all). Returns
    ``{"files_before", "files_after", "partitions_compacted",
    "partitions_total"}``.

    Concurrency caveat: the dynamic-overwrite commit swaps each selected
    directory's contents; a reader that listed files *before* the swap
    and opens them *after* can hit a missing-file error mid-compaction —
    run compaction in the same maintenance window as any other
    partition-rewriting operation.
    """
    if max_files < 1:
        raise ValueError(f"max_files must be >= 1, got {max_files}")
    if target_bytes < 1:
        raise ValueError(f"target_bytes must be >= 1, got {target_bytes}")
    fs, root = _hadoop_fs(spark, path)
    if not fs.exists(root):
        raise ValueError(f"no parquet table at {path}")

    if partition_col is None:
        files = _data_files(fs, root)
        before = len(files)
        if before <= max_files:
            return {
                "files_before": before, "files_after": before,
                "partitions_compacted": 0, "partitions_total": 1,
            }
        k = max(1, math.ceil(sum(b for _, b in files) / target_bytes))
        tmp = path.rstrip("/") + "__compact_tmp"
        jtmp = spark._jvm.org.apache.hadoop.fs.Path(tmp)
        fs.delete(jtmp, True)
        spark.read.parquet(path).repartition(k).write.mode("overwrite").parquet(tmp)
        # tmp is deleted ONLY after the write-back commits: if the
        # overwrite dies after clearing the live directory, the complete
        # compacted copy survives at <path>__compact_tmp for manual
        # recovery instead of being reaped by a finally
        spark.read.parquet(tmp).write.mode("overwrite").parquet(path)
        fs.delete(jtmp, True)
        return {
            "files_before": before, "files_after": len(_data_files(fs, root)),
            "partitions_compacted": 1, "partitions_total": 1,
        }

    dirs = _partition_dirs(fs, root, partition_col)
    if not dirs:
        raise ValueError(
            f"{path} has no {partition_col}=<value> partition directories — "
            f"wrong partition_col, or the table is unpartitioned "
            f"(pass partition_col=None)"
        )
    sizes: dict[str, tuple[int, int]] = {}  # value -> (n_files, bytes)
    for val, jdir in dirs.items():
        files = _data_files(fs, jdir)
        sizes[val] = (len(files), sum(b for _, b in files))
    over = {v: nb for v, nb in sizes.items() if nb[0] > max_files}
    before_total = sum(n for n, _ in sizes.values())
    if not over:
        return {
            "files_before": before_total, "files_after": before_total,
            "partitions_compacted": 0, "partitions_total": len(dirs),
        }

    # per-partition output file count from its byte size; the salt splits
    # a big partition across tasks, the (col, salt) repartition keeps each
    # output group in ONE task so a directory lands <= k files
    ks = {v: max(1, math.ceil(b / target_bytes)) for v, (_, b) in over.items()}
    # typed IN-list literals so the selection PRUNES at the scan (an
    # integer partition column compared against string literals would
    # coerce the COLUMN to string and read every directory); the index
    # tables this serves (ivf_list, band) are integer-keyed. Non-integer
    # partition values fall back to a string compare — still correct,
    # just unpruned (and partition values needing path-escaping are out
    # of scope for index maintenance).
    try:
        in_vals: list = [int(v) for v in over]
        probe = F.col(partition_col)
    except ValueError:
        in_vals = list(over)
        probe = F.col(partition_col).cast("string")
    sub = spark.read.parquet(path).where(probe.isin(in_vals))
    data_cols = [c for c in sub.columns if c != partition_col]
    kmap = F.create_map(*[x for v, k in ks.items() for x in (F.lit(v), F.lit(k))])
    # degenerate table with ONLY the partition column: xxhash64() takes at
    # least one argument, and every row in a directory is identical anyway,
    # so any row-spreading salt preserves values — monotonically_increasing_id
    # spreads rows across the k output files
    salt_src = (
        F.xxhash64(*[F.col(c) for c in data_cols])
        if data_cols
        else F.monotonically_increasing_id()
    )
    salt = F.pmod(salt_src, kmap[F.col(partition_col).cast("string")])
    tmp = path.rstrip("/") + "__compact_tmp"
    jtmp = spark._jvm.org.apache.hadoop.fs.Path(tmp)
    fs.delete(jtmp, True)
    (sub.repartition(F.col(partition_col), salt)
        .write.partitionBy(partition_col).mode("overwrite").parquet(tmp))
    # dynamic mode: ONLY the partitions present in tmp are replaced —
    # untouched directories keep their files (and their mtimes). Set as a
    # per-WRITE option (takes precedence over the session conf) rather
    # than mutating the session conf: no restore bookkeeping, and two
    # compactions overlapped from a driver thread pool (compact_dedup_index
    # runs its band and shingle tables concurrently) cannot race on a
    # session-global setting.
    (spark.read.parquet(tmp)
        .write.option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col).mode("overwrite").parquet(path))
    # reached only after the dynamic overwrite committed — a write-back
    # failure leaves the complete compacted copy at <path>__compact_tmp
    # for recovery (the docstring's crash-readability guarantee)
    fs.delete(jtmp, True)

    after_total = 0
    for val, jdir in _partition_dirs(fs, root, partition_col).items():
        after_total += len(_data_files(fs, jdir))
    return {
        "files_before": before_total, "files_after": after_total,
        "partitions_compacted": len(over), "partitions_total": len(dirs),
    }
