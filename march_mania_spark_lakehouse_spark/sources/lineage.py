"""Row-level change classification shared by the Iceberg and Delta
snapshot diffs: both formats read each snapshot with its row lineage
(a stable ``_row_id`` plus the version that last wrote the row) and
differ only in that version column's name."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    names: list[str],
    version_col: str,
    check_ids: Callable[[DataFrame], None],
) -> DataFrame:
    """Changes from the lineage read ``old`` to the lineage read ``new``.

    The two reads are full-outer-joined on ``_row_id``; ``check_ids``
    receives the joined frame before classification so the caller can
    refuse rows without ids. Each joined row then emits 0-2 change rows
    carrying ``names`` + ``_row_id`` + ``_change_type``:

    - id only in ``new`` → ``insert``;
    - id only in ``old`` → ``delete``;
    - id in both with a higher ``version_col`` in ``new`` →
      ``update_preimage`` (old values) + ``update_postimage`` (new);
    - id in both at the same version → nothing (rewrites such as
      compaction preserve both id and version).
    """
    old = old.select(
        *[F.col(n).alias(f"__old_{n}") for n in names],
        F.col("_row_id"),
        F.col(version_col).alias("__old_v"),
    )
    new = new.select(
        *names, "_row_id",
        F.col(version_col).alias("__new_v"),
    )
    both = new.join(old, "_row_id", "full_outer")
    check_ids(both)

    # Single-pass classification: four filter-branches of one join put
    # four copies of the join subtree (eight lineage scans) into the
    # physical plan, which the IVM refreshes compounded into
    # 94-scan/240-Exchange plans (plans/r13/q232_before.txt). One row
    # of `both` instead emits 0-2 change rows via a typed array +
    # explode: the same row set from one join and two scans.
    def _new_row(ct: str):
        return F.struct(
            *[F.col(n).alias(n) for n in names],
            F.col("_row_id").alias("_row_id"),
            F.lit(ct).alias("_change_type"),
        )

    def _old_row(ct: str):
        return F.struct(
            *[F.col(f"__old_{n}").alias(n) for n in names],
            F.col("_row_id").alias("_row_id"),
            F.lit(ct).alias("_change_type"),
        )

    is_ins = F.col("__old_v").isNull()
    is_del = F.col("__new_v").isNull()
    is_upd = (
        F.col("__old_v").isNotNull()
        & F.col("__new_v").isNotNull()
        & (F.col("__new_v") > F.col("__old_v"))
    )
    emit = F.array_compact(
        F.array(
            F.when(is_ins, _new_row("insert")).when(
                is_upd, _new_row("update_postimage")
            ),
            F.when(is_del, _old_row("delete")).when(
                is_upd, _old_row("update_preimage")
            ),
        )
    )
    return both.select(F.explode(emit).alias("__c")).select("__c.*")
