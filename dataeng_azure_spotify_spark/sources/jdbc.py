"""JDBC incremental source — the reference's actual bronze extract path
(SURVEY.md §2.1 S1): ADF runs ``SELECT * FROM <schema>.<table> WHERE
<cdc_col> > '<last_cdc or from_date>'`` against Azure SQL
(``pipeline/incremental_ingestion.json:89``; same query re-encoded at
``terraform/06_adf_pipeline_incremental_arm/main.tf:23``) and refreshes
the watermark with ``SELECT MAX(<cdc_col>)`` (A1, json:192).

Spark mapping: ``spark.read.format("jdbc")`` with the watermark filter in
the pushed-down query — the WHERE executes inside the source database,
exactly the reference's behavior. For large extracts the read
parallelizes with ``partitionColumn``/``numPartitions`` bounds so N
executors each pull a key range; without it JDBC reads are single-stream.

Tests cover the option construction and query text; the options feed
``spark.read.format("jdbc")`` against a reachable ``url``.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class JdbcTable:
    """Connection + table coordinates (the reference's linked-service +
    ``{schema, table, cdc_col}`` loop entry, ``data_scripts/loop_input.json``)."""

    url: str                      # jdbc:sqlserver://... / jdbc:postgresql://...
    schema: str
    table: str
    cdc_col: str
    driver: str | None = None
    properties: dict[str, str] = field(default_factory=dict)  # user/password/...

    @property
    def qualified(self) -> str:
        return f"{self.schema}.{self.table}"


def incremental_query(src: JdbcTable, watermark: str) -> str:
    """S1: the watermark-filtered extract, executed source-side.

    The watermark value is single-quote-escaped (SQL standard '' 
    doubling): it is refreshed from source data (MAX over the cdc
    column), so an un-escaped string-typed watermark would break the
    query — or steer it — on any value containing a quote.
    Identifiers (schema/table/cdc_col) come from the operator's own
    pipeline config, not from data.
    """
    wm = watermark.replace("'", "''")
    return (
        f"SELECT * FROM {src.qualified} "
        f"WHERE {src.cdc_col} > '{wm}'"
    )


def max_watermark_query(src: JdbcTable) -> str:
    """A1: watermark refresh over the WHOLE source table (reference
    semantics — not the extracted slice)."""
    return f"SELECT MAX({src.cdc_col}) AS cdc FROM {src.qualified}"


def reader_options(
    src: JdbcTable,
    watermark: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: str | int | None = None,
    upper_bound: str | int | None = None,
    fetch_size: int = 10_000,
) -> dict[str, str]:
    """Full option map for ``spark.read.format('jdbc')``.

    With ``partition_column`` (a numeric/date key) the extract splits into
    ``num_partitions`` range-parallel streams — the scale path; the WHERE
    clause still pushes to the database in every partition's query.
    """
    opts: dict[str, str] = {
        "url": src.url,
        "dbtable": f"({incremental_query(src, watermark)}) AS src",
        "fetchsize": str(fetch_size),
    }
    if src.driver:
        opts["driver"] = src.driver
    opts.update(src.properties)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC read needs lower/upper bounds")
        opts.update(
            partitionColumn=partition_column,
            numPartitions=str(num_partitions),
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
        )
    return opts

