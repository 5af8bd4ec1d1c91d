"""Size / replication / storage-policy scalar expressions
(reference FsUtil, /root/reference lib/.../util/FsUtil.java:60-136).

All JVM-side Catalyst expressions; ``consumed_size`` reproduces the
erasure-coding math with the public Hadoop system EC policies
(SystemErasureCodingPolicies — public Hadoop source) as a literal CASE
expression rather than a join: the policy table is 5 rows, so it folds
into the expression and never shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Public Hadoop system EC policies: id -> (name, num_data_units,
# num_parity_units, cell_size). From Hadoop's SystemErasureCodingPolicies.
EC_POLICIES: dict[int, tuple[str, int, int, int]] = {
    1: ("RS-6-3-1024k", 6, 3, 1024 * 1024),
    2: ("RS-3-2-1024k", 3, 2, 1024 * 1024),
    3: ("RS-LEGACY-6-3-1024k", 6, 3, 1024 * 1024),
    4: ("XOR-2-1-1024k", 2, 1, 1024 * 1024),
    5: ("RS-10-4-1024k", 10, 4, 1024 * 1024),
}

# Replication reported for EC-striped files
# (HdfsConstants.DEFAULT_REPL_FOR_STRIPED_BLOCKS == 1; FsUtil.java:60-65).
DEFAULT_REPL_FOR_STRIPED_BLOCKS = 1

# Public Hadoop block storage policy suite (BlockStoragePolicySuite).
STORAGE_POLICIES: dict[int, str] = {
    0: "HOT",  # unset → default HOT (FsUtil.java:94-100)
    1: "PROVIDED",
    2: "COLD",
    5: "WARM",
    7: "HOT",
    10: "ONE_SSD",
    12: "ALL_SSD",
    14: "ALL_NVDIMM",
    15: "LAZY_PERSIST",
}


def file_size_from_blocks(blocks: Column | str) -> Column:
    """Σ blocks[].num_bytes (FsUtil.getFileSize, FsUtil.java:108-114) as a
    higher-order-function fold — no UDF, no explode/shuffle."""
    c = F.col(blocks) if isinstance(blocks, str) else blocks
    return F.coalesce(
        F.aggregate(c, F.lit(0).cast("long"), lambda acc, b: acc + b["num_bytes"]),
        F.lit(0).cast("long"),
    )


def effective_replication(replication: Column | str, ec_policy_id: Column | str) -> Column:
    """EC files report the fixed striped-block replication instead of their
    own field (FsUtil.getFileReplication, FsUtil.java:60-65)."""
    r = F.col(replication) if isinstance(replication, str) else replication
    e = F.col(ec_policy_id) if isinstance(ec_policy_id, str) else ec_policy_id
    return F.when(e != 0, F.lit(DEFAULT_REPL_FOR_STRIPED_BLOCKS)).otherwise(r)


def consumed_size(
    blocks: Column | str,
    replication: Column | str,
    ec_policy_id: Column | str,
    file_size: Column | str | None = None,
) -> Column:
    """Disk bytes actually consumed (FsUtil.getConsumedFileSize,
    FsUtil.java:122-136):

    * replicated file: ``file_size * replication``
    * EC file: per block ``num_bytes + ceil(ceil(num_bytes/cell)/data_units)
      * parity_units * cell`` summed over blocks.
    """
    b = F.col(blocks) if isinstance(blocks, str) else blocks
    r = F.col(replication) if isinstance(replication, str) else replication
    e = F.col(ec_policy_id) if isinstance(ec_policy_id, str) else ec_policy_id
    if file_size is None:
        fs = file_size_from_blocks(b)
    else:
        fs = F.col(file_size) if isinstance(file_size, str) else file_size

    def ec_block_consumed(policy: tuple[str, int, int, int]):
        _, data_units, parity_units, cell = policy

        def fold(acc: Column, blk: Column) -> Column:
            # integer ceil-div keeps the math exact (no double rounding):
            # ceil(a/b) == (a + b - 1) div b for positive ints
            nb = blk["num_bytes"]
            cells = (nb + F.lit(cell - 1)) / F.lit(cell)
            cells = F.floor(cells).cast("long")
            stripes = F.floor((cells + F.lit(data_units - 1)) / F.lit(data_units)).cast("long")
            parity = stripes * F.lit(parity_units) * F.lit(cell)
            return acc + nb + parity

        return F.aggregate(b, F.lit(0).cast("long"), fold)

    expr = F.when(e == 0, fs * r.cast("long"))
    for pid, policy in EC_POLICIES.items():
        expr = expr.when(e == pid, ec_block_consumed(policy))
    return F.coalesce(expr.otherwise(fs), F.lit(0).cast("long"))


def storage_policy_name(storage_policy_id: Column | str) -> Column:
    """policyId → policy name, default HOT when unset
    (FsUtil.getBlockStoragePolicy, FsUtil.java:94-100)."""
    c = F.col(storage_policy_id) if isinstance(storage_policy_id, str) else storage_policy_id
    mapping = F.create_map(
        *[F.lit(x) for kv in STORAGE_POLICIES.items() for x in kv]
    )
    return F.coalesce(mapping[c], F.lit("HOT"))
