"""Engine catalog: table schemas, primary keys, validation.

The reference *introspects* schemas from a live ClickHouse
(/root/reference/db/operations.go:211-277) and hard-errors on changes
for unknown tables (/root/reference/sinker/sinker.go:138-145).  The
Spark engine keeps an explicit catalog of ``StructType`` table schemas
with a single-column primary key per table (default ``id``,
/root/reference/db/db.go:121-124).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from substreams_sink_clickhouse_spark.errors import UnknownTableError

#: Example workload table from /root/reference/devel/schema.sql:1-12.
BLOCK_META_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("at", T.StringType(), True),
        T.StructField("number", T.IntegerType(), True),
        T.StructField("hash", T.StringType(), True),
        T.StructField("parent_hash", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
    ]
)


@dataclass
class TableInfo:
    """Schema metadata for one target table
    (reference: db/types.go:19-60 ``TableInfo``/``ColumnInfo``)."""

    name: str
    schema: T.StructType
    primary_key: str = "id"
    #: ClickHouse table engine this table was declared with (informational
    #: for plain MergeTree; ReplacingMergeTree drives version-collapse
    #: reads — see ``operators.merge.collapse_versions``).
    engine: str = "MergeTree"
    #: ReplacingMergeTree's optional version column: on FINAL-style reads
    #: the highest version per primary key wins (ClickHouse keeps the
    #: last-inserted row when no version column is declared; we require
    #: an explicit version column for deterministic distributed reads).
    version_column: str | None = None
    #: SummingMergeTree's summed columns (None = all numeric non-key
    #: columns, ClickHouse's default).
    sum_columns: list[str] | None = None

    def __post_init__(self) -> None:
        if self.primary_key not in self.schema.fieldNames():
            raise ValueError(
                f"table {self.name!r}: primary key {self.primary_key!r} "
                f"not among columns {self.schema.fieldNames()}"
            )
        for col in [self.version_column, *(self.sum_columns or [])]:
            if col is not None and col not in self.schema.fieldNames():
                raise ValueError(
                    f"table {self.name!r}: engine column {col!r} "
                    f"not among columns {self.schema.fieldNames()}"
                )

    @property
    def column_types(self) -> dict[str, T.DataType]:
        return {f.name: f.dataType for f in self.schema.fields}


@dataclass
class Catalog:
    """Registry of target tables (reference: ``map[string]*TableInfo``,
    db/db.go:25)."""

    tables: dict[str, TableInfo] = field(default_factory=dict)

    def register(self, info: TableInfo) -> None:
        self.tables[info.name] = info

    def get(self, name: str) -> TableInfo:
        if name not in self.tables:
            raise UnknownTableError(name, list(self.tables))
        return self.tables[name]

    def add_column(self, table: str, column: str, dtype) -> TableInfo:
        """Schema evolution — ``ALTER TABLE <t> ADD COLUMN`` parity.

        ClickHouse ALTERs are metadata-only for added columns: existing
        parts serve the column's default (NULL) until rewritten.  The
        bucketed parquet state behaves identically — the store reads
        every file through the CATALOG schema, and parquet scans fill
        absent columns with nulls — so adding a nullable column here is
        likewise pure metadata: no rewrite of existing state, old rows
        read as NULL, and the next flush starts coercing the new field
        from incoming changes.  ``dtype`` is a Spark DataType or a DDL
        type string (``"bigint"``, ``"decimal(20,0)"``).
        """
        info = self.get(table)
        if column in info.schema.fieldNames():
            raise ValueError(f"table {table!r}: column {column!r} already exists")
        if isinstance(dtype, str):
            dtype = T._parse_datatype_string(dtype)
        new_schema = T.StructType(
            list(info.schema.fields) + [T.StructField(column, dtype, True)]
        )
        new_info = TableInfo(info.name, new_schema, info.primary_key)
        self.register(new_info)
        return new_info

    def validate_tables(self, names: list[str]) -> None:
        """Reject unknown tables, like sinker/sinker.go:138-145."""
        for name in names:
            if name not in self.tables:
                raise UnknownTableError(name, list(self.tables))

    def primary_keys(self) -> dict[str, str]:
        return {name: info.primary_key for name, info in self.tables.items()}

    @classmethod
    def from_spark_catalog(cls, spark: SparkSession, pk_overrides: dict[str, str] | None = None) -> "Catalog":
        """Introspect registered Spark tables/views into a Catalog —
        the Spark analog of the reference's ``system.tables`` scan
        (db/operations.go:211-277)."""
        overrides = pk_overrides or {}
        catalog = cls()
        for table in spark.catalog.listTables():
            schema = spark.table(table.name).schema
            pk = overrides.get(table.name, "id" if "id" in schema.fieldNames() else schema.fieldNames()[0])
            catalog.register(TableInfo(table.name, schema, pk))
        return catalog


def setup(spark: SparkSession, ddl_statements: list[str] | None = None, ddl_path: str | None = None) -> None:
    """Execute user DDL then ensure the cursors table exists —
    the reference's ``Loader.Setup`` (/root/reference/db/db.go:212-249).
    """
    statements = list(ddl_statements or [])
    if ddl_path:
        with open(ddl_path, encoding="utf-8") as fh:
            statements.extend(s.strip() for s in fh.read().split(";") if s.strip())
    for stmt in statements:
        spark.sql(stmt)
    spark.sql(
        "CREATE TABLE IF NOT EXISTS cursors "
        "(id STRING, cursor STRING, block_num BIGINT, block_id STRING) USING parquet"
    )
