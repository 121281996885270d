"""Catalog state: the system.* tables the reference introspects, held as
in-memory control-plane rows with fixed schemas (FIXTURES.md §A).

The reference reads four ClickHouse system tables (clickhouse_users.py:
149,156,166,179-180; clickhouse_grants.py:164,174); we model those plus
``roles`` (implied by CREATE ROLE IF NOT EXISTS, clickhouse_users.py:
234-237) and ``grants`` (target of the W9/W10 generators,
clickhouse_grants.py:292-300).

Like ClickHouse's access entities, these tables are a handful of rows
held in memory: each is an immutable tuple of row tuples in schema
column order, so planning and applying run no Spark job. Every mutation
returns a new Catalog. ``catalog.<table>`` builds a read-only DataFrame
view of a table on access, for SQL over the catalog. Persistence
(``save``/``load``) round-trips through parquet under a warehouse dir so
reconcile state survives sessions.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

USERS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("auth_type", T.StringType(), True),
        T.StructField("password_sha256", T.StringType(), True),
    ]
)
ROLE_GRANTS_SCHEMA = T.StructType(
    [
        T.StructField("user_name", T.StringType(), False),
        T.StructField("granted_role_name", T.StringType(), False),
    ]
)
PROFILE_ELEMENTS_SCHEMA = T.StructType(
    [
        T.StructField("user_name", T.StringType(), False),
        T.StructField("inherit_profile", T.StringType(), True),
    ]
)
QUOTAS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("apply_to_list", T.ArrayType(T.StringType()), False),
    ]
)
ROLES_SCHEMA = T.StructType([T.StructField("name", T.StringType(), False)])
GRANTS_SCHEMA = T.StructType(
    [
        T.StructField("grantee", T.StringType(), False),
        T.StructField("privilege", T.StringType(), False),
        T.StructField("database", T.StringType(), False),
        T.StructField("table", T.StringType(), False),
    ]
)

TABLES = {
    "users": USERS_SCHEMA,
    "role_grants": ROLE_GRANTS_SCHEMA,
    "settings_profile_elements": PROFILE_ELEMENTS_SCHEMA,
    "quotas": QUOTAS_SCHEMA,
    "roles": ROLES_SCHEMA,
    "grants": GRANTS_SCHEMA,
}


def _freeze(row, schema: T.StructType) -> tuple:
    """A tuple, dict or Row as an immutable tuple in schema column order
    (arrays become tuples)."""
    values = [row.get(f) for f in schema.fieldNames()] if isinstance(row, dict) else row
    if len(values) != len(schema.fields) or any(
        v is None and not f.nullable for f, v in zip(schema.fields, values)
    ):
        raise ValueError(f"row {row!r} does not fit {schema.simpleString()}")
    return tuple(tuple(v) if isinstance(v, list) else v for v in values)


@dataclass(frozen=True)
class Catalog:
    spark: SparkSession
    rows: dict[str, tuple[tuple, ...]]

    def __getattr__(self, name: str) -> DataFrame:
        """``catalog.users`` etc.: a DataFrame view of one table's rows."""
        if name not in TABLES:
            raise AttributeError(name)
        return self.spark.createDataFrame(list(self.rows[name]), TABLES[name])

    @classmethod
    def from_rows(cls, spark: SparkSession, **rows) -> "Catalog":
        """Build a catalog from lists of tuples/dicts per table name."""
        return cls(
            spark,
            {
                name: tuple(_freeze(r, schema) for r in rows.get(name, []))
                for name, schema in TABLES.items()
            },
        )

    @classmethod
    def demo(cls, spark: SparkSession) -> "Catalog":
        """Fixture catalog mirroring playbook_example.yaml:12-36: users
        db_admin/app_user, roles, one quota, one profile."""
        return cls.from_rows(
            spark,
            users=[
                ("db_admin", "sha256_password", "a" * 64),
                ("app_user", "sha256_hash", "b" * 64),
            ],
            role_grants=[("db_admin", "db_admin_role"), ("app_user", "reader_role")],
            settings_profile_elements=[("app_user", "custom_profile")],
            quotas=[("test_quota", ["app_user"])],
            roles=[("db_admin_role",), ("reader_role",), ("writer_role",)],
            grants=[("app_user", "SELECT", "analytics", "*")],
        )

    def with_rows(self, **rows: tuple[tuple, ...]) -> "Catalog":
        return Catalog(self.spark, {**self.rows, **rows})

    def save(self, path: str) -> None:
        # one file per table keeps the row order for load
        for name in TABLES:
            getattr(self, name).coalesce(1).write.mode("overwrite").parquet(
                f"{path}/{name}"
            )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "Catalog":
        return cls.from_rows(
            spark,
            **{
                name: spark.read.schema(schema).parquet(f"{path}/{name}").collect()
                for name, schema in TABLES.items()
            },
        )
