"""Bytes-derived exchange partition sizing (guide §2.2/§2.4) — the
package's one rule for sizing an operator's exchanges.

Running every exchange at the session partition count (= cores) costs
~1-1.7 s per heavy query at bench scale: the same 19 stages run 400
tasks at 32 partitions vs 157 at 12, each task paying ~20-30 ms of
launch/deserialize constants on sub-MB shuffles
(`evidence/r14_ab_shuffle_parts.json`,
`evidence/r14_stage_attrib_dd_ngram_jaccard.json`).
The empirical optimum is ~8-12 partitions in the tiny-data regime and
~cores at scale.

:func:`small_exchange_parts` derives the count from the operator's
INPUT bytes at a caller-chosen bytes-per-partition target (1 MiB for
the batch dedup verifies, 64 MiB for the near-dup stream's
micro-batches), floors it at 8 for parallelism, and — decisive for
at-scale safety — returns ``None`` as soon as the derived count reaches
the session setting, so the operator keeps the session-partitioned plan
unchanged in every at-scale regime.  ``None`` passthrough also
preserves AQE skew-join splitting at scale: a user ``repartition(n)``
shuffle is not skew-splittable (user-specified counts are final), while
the ENSURE_REQUIREMENTS exchanges it would replace are.

Sizing fails safe: an unknown size (:func:`path_bytes` of a missing
path is ``None``) keeps the unpinned plan.  The count adapts to the
data decade via the source bytes and to the deployment via
``spark.sql.shuffle.partitions`` (cluster-sized on a cluster,
``SPARK_GRAFT_CPUS`` locally).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

#: minimum pinned count — parallelism floor for the tiny-data regime
_FLOOR = 8


def path_bytes(path: str) -> int | None:
    """On-disk bytes of a file or directory tree (staged parquet dirs,
    scale-corpus table directories, block-manager dirs); ``None`` when
    the path does not exist."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    if not os.path.isdir(path):
        return None
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def table_bytes(sf_dir: str, table: str) -> int | None:
    """On-disk bytes of ``<sf_dir>/<table>.parquet`` (file or directory
    of part files — the /tmp scale corpora are directories)."""
    return path_bytes(os.path.join(sf_dir, f"{table}.parquet"))


def small_exchange_parts(spark: SparkSession, nbytes: int | None,
                         per_part_bytes: int = 1 << 20) -> int | None:
    """Partition count for a small-input operator's exchanges, or
    ``None`` to keep the session-partitioned plan.

    ``nbytes`` is the operator's source bytes (compressed parquet);
    ``None`` (size unknown) keeps the session plan.  The 1 MiB/partition
    default reaches a 32-partition session by ~32 MB of source — i.e.
    pinning engages only in the regime where task constants dominate
    (sub-MB shuffle partitions), and every at-scale plan (sf10/sf100
    sessions, cluster deployments) is byte-identical to the unpinned
    form."""
    if nbytes is None:
        return None
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = max(_FLOOR, math.ceil(nbytes / max(per_part_bytes, 1)))
    return None if n >= session else n
