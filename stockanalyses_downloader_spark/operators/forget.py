"""Right-to-be-forgotten cascade (GDPR/CCPA erasure) — the lifecycle
operation every at-rest table tier eventually owes its users: given a
set of subject keys, remove every row derivable from them across the
FK graph, rewrite the tables atomically, and leave an auditable count
trail. The dual of ingest: data must be able to LEAVE the lakehouse
with the same guarantees it entered with.

Design:
  * the cascade is declared as FK EDGES (child table, fk col, parent
    table, parent pk col) — the doomed-key frontier propagates
    topologically from the subject set, so grandchildren (lineitem via
    orders) fall out of the same machinery as direct children;
  * subject/doomed KEY SETS are broadcast: an erasure batch is
    request-sized, so every purge scan is one shuffle-free anti join
    per table — at 100 TB each table is read once, never joined
    against another fact table;
  * execution uses the one table-swap module (``sources.swap``): a
    crashed purge leaves the OLD table intact — erasure is
    re-runnable, never half-applied;
  * downstream keyed views are not rewritten but fed DELETE TOMBSTONES
    (cdc.apply_changelog_versioned 'D' rows), so the CDC tier forgets
    through its own merge path — and a later replay of old upserts
    cannot resurrect the subject (the tombstone version test in
    test_cdc_indicators.py is exactly this guarantee);
  * derived AGGREGATES refresh via ivm.touched_groups partial
    recompute — the erased rows' groups recompute, everything else
    carries.

The count audit (per table: dropped/kept) is DuckDB-oracled at the
query level (forget_cascade_report) — the erasure math itself is
hash-certified even though the side-effecting rewrite can only be
pytest-verified.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import tracked_persist
from ..sources import swap


@dataclass(frozen=True)
class FkEdge:
    """child.fk_col references parent.parent_pk; doomed parents doom
    the referencing child rows. child_pk names the column the child's
    OWN dependents hang off (None for leaves)."""
    child: str
    fk_col: str
    parent: str
    parent_pk: str
    child_pk: str | None = None


def doomed_keys(tables: dict[str, DataFrame], root_table: str,
                root_pk: str, subjects: DataFrame,
                edges: Sequence[FkEdge]) -> dict[str, DataFrame]:
    """Propagate the subject key set down the FK graph: returns one
    single-column doomed-PK frame per table (for leaves, the fk col
    values that are doomed). ``subjects`` is a 1-column frame of
    root_pk values. Edges must be listed parent-before-child
    (topological) — the frontier only ever looks UP the list."""
    # Every doomed frame is persisted (r13 optimization round, guide
    # §1.2/§2.3): each one is request-sized by contract, yet feeds
    # MULTIPLE consumers — the next cascade level's semi join, and a
    # broadcast build per purge/audit leg. Unpersisted, every consumer
    # re-derived the whole ancestor chain from the base tables (the
    # audit plan re-scanned customer/orders once per leg — 48 scans
    # for a 4-table cascade); cached, each level's derivation scans
    # its table once. The frames are internally derived (not
    # caller-owned), so tracked_persist is safe here (ADVICE r13).
    doomed: dict[str, DataFrame] = {
        root_table: tracked_persist(
            subjects.select(F.col(subjects.columns[0])
                            .alias(root_pk)).distinct())}
    for e in edges:
        if e.parent not in doomed:
            raise ValueError(
                f"edge {e.child}->{e.parent} before parent resolved; "
                "list edges topologically")
        parent_doomed = doomed[e.parent]
        child_rows = tables[e.child].join(
            F.broadcast(parent_doomed
                        .select(F.col(e.parent_pk).alias(e.fk_col))),
            e.fk_col, "semi")
        out_col = e.child_pk or e.fk_col
        doomed[e.child] = tracked_persist(
            child_rows.select(out_col).distinct())
    return doomed


def purge(tables: dict[str, DataFrame],
          doomed: dict[str, DataFrame],
          key_cols: dict[str, str]) -> dict[str, DataFrame]:
    """Purged view of every table: anti join against its doomed key
    set (broadcast — request-sized). Tables without a doomed entry
    pass through unchanged."""
    out: dict[str, DataFrame] = {}
    for name, df in tables.items():
        if name in doomed:
            k = key_cols[name]
            d = doomed[name].select(
                F.col(doomed[name].columns[0]).alias(k))
            out[name] = df.join(F.broadcast(d), k, "anti")
        else:
            out[name] = df
    return out


def audit(tables: dict[str, DataFrame],
          doomed: dict[str, DataFrame],
          key_cols: dict[str, str]) -> DataFrame:
    """(table_name, n_dropped, n_kept) per cascaded table — the
    erasure receipt. Computed as semi/anti splits of each table
    against its doomed set; unioned into one frame so the whole
    receipt is a single oracled result."""
    # ONE scan per table (r13 optimization round, guide §1.2): the
    # old semi-count + anti-count pair read every table twice and
    # rebuilt its doomed broadcast twice, then met in a 1-row-x-1-row
    # nested-loop join. A single left join against the (deduped,
    # broadcast) doomed keys marks each row matched/unmatched, and one
    # conditional aggregate yields both counts — semi = rows with >=1
    # match, anti = rows with none, which for a DISTINCT key set are
    # exactly count(match) and count(*) - count(match). The dropDuplicates
    # keeps that identity for arbitrary caller-supplied doomed frames
    # (doomed_keys' outputs are already distinct — it is a no-op
    # aggregate on a request-sized cached frame there).
    parts = []
    for name in sorted(doomed):
        k = key_cols[name]
        d = (doomed[name].select(F.col(doomed[name].columns[0]).alias(k))
             .dropDuplicates([k])
             .withColumn("__doomed", F.lit(1)))
        t = tables[name]
        parts.append(
            t.join(F.broadcast(d), k, "left")
             .agg(F.count("__doomed").alias("n_dropped"),
                  (F.count("*") - F.count("__doomed")).alias("n_kept"))
             .withColumn("table_name", F.lit(name)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("table_name", "n_dropped", "n_kept")


def tombstones(doomed_pks: DataFrame, key_col: str,
               seq_value, payload_cols: Sequence[str]) -> DataFrame:
    """DELETE changelog rows for the doomed keys, shaped for
    cdc.apply_changelog_versioned: (key, seq, op='D', NULL payload).
    Feeding these to the CDC tier makes every downstream keyed view
    forget through its normal merge path — and the stored tombstone
    blocks any replayed historical upsert from resurrecting the
    subject."""
    out = (doomed_pks.select(F.col(doomed_pks.columns[0]).alias(key_col))
           .withColumn("seq", F.lit(seq_value).cast("long"))
           .withColumn("op", F.lit("D")))
    for p in payload_cols:
        out = out.withColumn(p, F.lit(None).cast("string"))
    return out


def execute_forget(spark, table_paths: dict[str, str],
                   purged: dict[str, DataFrame]) -> None:
    """Rewrite each purged table with the atomic swap of
    ``sources.swap``: readers never observe a half-erased table; a
    crash leaves the old data and the erasure request simply re-runs
    (purge is idempotent — anti join of already-absent keys).

    Two-phase: ALL tmp directories are written first, THEN the
    swaps happen. A depth>=2 cascade's purged frames lazily re-read
    ancestor tables (lineitem's doomed set derives from orders) —
    swapping orders before lineitem materializes would make lineitem
    re-derive its doomed keys from the already-purged orders (empty
    set → subjects' lineitems silently survive) or fail on deleted
    files. Materializing every purged frame against the ORIGINAL data
    before any directory moves closes that window."""
    # Recover every table from a previous crashed run before anything
    # reads it: a crash mid-swap leaves a table's ONLY copy in its
    # swap backup, which must be restored, not swept.
    for path in table_paths.values():
        swap.recover(path)
    staged: list[tuple[str, str]] = []
    for name, path in table_paths.items():
        if name not in purged:      # sweep/recovery-only entry
            continue
        tmp = swap.stage(path)
        purged[name].write.mode("overwrite").parquet(tmp)
        staged.append((path, tmp))
    for path, tmp in staged:
        swap.swap_in(path, tmp)
