"""Small-file compaction for parquet tables: streaming micro-batches
accrete many small files per partition; scans then pay per-file
open/footer costs and the driver pays listing costs. This maintenance
pass rewrites only the partition directories whose files are
small/fragmented, leaving every other partition's files byte-identical.

Not for GraphStore roots (sources/graph_store.py): their commit
directories are immutable and named by a manifest, so compacting one in
place would rewrite files a reader may be listing. A compacted graph-store
bucket has to be a new commit plus a manifest swap.

Scale shape: each partition directory compacts independently (read just
that directory, coalesce to ceil(bytes/target), stage-then-rename), so
a 100 TB table compacts as an embarrassingly parallel sweep over
partitions and never holds more than one partition in flight per job.
File listing here uses the local filesystem (this sandbox runs local
mode); on a cluster the identical logic runs over the Hadoop
FileSystem listing — the selection policy and rewrite are unchanged.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass
class CompactionReport:
    partitions_seen: int
    partitions_compacted: int
    files_before: int
    files_after: int
    bytes_total: int


def _data_files(d: str) -> list[str]:
    return [
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith(".")
    ]


def _partition_dirs(root: str) -> list[str]:
    """Leaf directories holding data files: hive-style key=value subdirs
    (any nesting), or the root itself for an unpartitioned table."""
    leaves = []
    for dirpath, dirnames, _ in os.walk(root):
        if any("=" in d for d in dirnames):
            continue  # not a leaf; recurse into partition subdirs
        if os.path.basename(dirpath).startswith("_"):
            continue
        if _data_files(dirpath):
            leaves.append(dirpath)
    return leaves


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    min_files: int = 2,
) -> CompactionReport:
    """Compact every partition directory under `path` whose data files
    are more numerous than its bytes justify. A partition is rewritten
    iff it has >= min_files files AND more files than
    ceil(bytes / target_file_bytes). Rewrites are stage-then-rename, so
    a crash mid-compaction leaves the old partition intact."""
    seen = compacted = before = after = total = 0
    for pdir in _partition_dirs(path):
        files = _data_files(pdir)
        nbytes = sum(os.path.getsize(f) for f in files)
        seen += 1
        before += len(files)
        total += nbytes
        want = max(1, math.ceil(nbytes / target_file_bytes))
        if len(files) < min_files or len(files) <= want:
            after += len(files)
            continue
        df = spark.read.parquet(pdir)
        staging = f"{pdir}._compact-{uuid.uuid4().hex[:8]}"
        df.coalesce(want).write.mode("overwrite").parquet(staging)
        # swap data files in place, preserving the partition dir name
        old = f"{pdir}._old-{uuid.uuid4().hex[:8]}"
        os.rename(pdir, old)
        os.rename(staging, pdir)
        marker = os.path.join(pdir, "_SUCCESS")
        if os.path.exists(marker):
            os.remove(marker)  # root-level _SUCCESS is the table marker
        shutil.rmtree(old)
        compacted += 1
        after += len(_data_files(pdir))
    return CompactionReport(seen, compacted, before, after, total)
