"""JDBC source — SURVEY.md §2.1 S1/S2 production path.

The reference reads SQLite full-load scans (etl.py:62-117) and
PostgreSQL keyset batches (daemon.py:90-129) through driver-side
cursors. The Spark path is ``spark.read.format("jdbc")`` with the
options below; no database ships in this container, so the option
construction is factored pure (unit-testable); the read itself is
``spark.read.format("jdbc").options(**jdbc_options(...)).load()``,
with the vendor driver jar on the executor classpath.

Scale contract (the part that matters at 1000 executors):

- **Parallel range scan**: ``partitionColumn/lowerBound/upperBound/
  numPartitions`` splits the table into N concurrent range queries —
  without it a JDBC read is ONE executor doing one cursor. Pick an
  indexed, roughly-uniform column (the reference's ``updated_at`` or a
  numeric PK).
- **Predicate pushdown**: Catalyst pushes filters into the remote
  query's WHERE; the keyset cursor predicate (P6) is sargable on the
  (ts, id) index, so incremental reads never scan history.
- **fetchsize** raises the driver's row round-trip batch (the JDBC
  default of ~10-50 rows would bottleneck any real table).
"""

from __future__ import annotations


def jdbc_options(
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: str | int | None = None,
    upper_bound: str | int | None = None,
    num_partitions: int = 32,
    fetchsize: int = 10_000,
    **extra: str,
) -> dict[str, str]:
    """Build the option map for a (possibly parallel) JDBC read."""
    opts = {"url": url, "dbtable": table, "fetchsize": str(fetchsize)}
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partition_column requires lower/upper bounds")
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    opts.update({k: str(v) for k, v in extra.items()})
    return opts


def keyset_subquery(
    table: str, ts_col: str, id_col: str, cursor_ts: str, cursor_id: str,
    batch_size: int,
) -> str:
    """Remote-side keyset batch as a dbtable subquery — ships the
    reference's exact cursor query (daemon.py:110-117) to the database,
    so LIMIT and the index-backed ORDER BY run where the index lives."""
    return (
        f"(SELECT * FROM {table} "
        f"WHERE ({ts_col} = '{cursor_ts}' AND {id_col} > '{cursor_id}') "
        f"OR {ts_col} > '{cursor_ts}' "
        f"ORDER BY {ts_col}, {id_col} LIMIT {batch_size}) AS keyset_batch"
    )
