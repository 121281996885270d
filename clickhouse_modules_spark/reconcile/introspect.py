"""Read-side introspection — the reference's R1-R7 queries over the
catalog's in-memory rows.

Each function cites the reference query it reproduces (SURVEY §2A).
The reference is likewise row-oriented at the client (its client
library returns list[tuple], SURVEY §1.2): these are small SELECTs over
a handful of control-plane rows, answered in plain Python with no Spark
job.
"""

from __future__ import annotations

from clickhouse_modules_spark.reconcile.catalog import Catalog


def user_exists(catalog: Catalog, user: str) -> bool:
    """R1 — ``SELECT count() FROM system.users WHERE name = '{u}'`` > 0
    (clickhouse_users.py:148-150; duplicated clickhouse_grants.py:163-165).
    """
    return any(row[0] == user for row in catalog.rows["users"])


def get_user_roles(catalog: Catalog, user: str) -> list[str]:
    """R2 — ``SELECT granted_role_name FROM system.role_grants WHERE
    user_name = '{u}'`` (clickhouse_users.py:153-161; clickhouse_grants.py:
    168-179)."""
    return [role for name, role in catalog.rows["role_grants"] if name == user]


def roles_missing(catalog: Catalog, user: str, desired_roles: list[str]) -> list[str]:
    """R3 — desired ⊆ granted subset test, client-side like the reference
    (clickhouse_users.py:158-160). Returns the missing roles in desired
    order, duplicates kept."""
    granted = set(get_user_roles(catalog, user))
    return [r for r in desired_roles if r not in granted]


def get_user_profiles(catalog: Catalog, user: str) -> list[str]:
    """R4 — ``SELECT inherit_profile FROM system.settings_profile_elements
    WHERE user_name = '{u}'`` (clickhouse_users.py:164-172)."""
    return [
        profile
        for name, profile in catalog.rows["settings_profile_elements"]
        if name == user and profile is not None
    ]


def get_user_quotas(catalog: Catalog, user: str) -> list[str]:
    """R5 — ``SELECT name FROM system.quotas WHERE has(apply_to_list,
    '{u}')`` (clickhouse_users.py:175-189)."""
    return [name for name, apply_to in catalog.rows["quotas"] if user in apply_to]


def quota_apply_list(catalog: Catalog, quota: str) -> list[str]:
    """R6 — ``SELECT apply_to_list FROM system.quotas WHERE name = '{q}'``
    (clickhouse_users.py:180,183-188); the caller appends the new user and
    the W3 ALTER rewrites the full list."""
    return next(
        (list(apply_to) for name, apply_to in catalog.rows["quotas"] if name == quota),
        [],
    )


def get_grants(catalog: Catalog, grantee: str) -> list[tuple[str, str, str]]:
    """Current privilege grants for a grantee: (privilege, database, table)."""
    return [
        (privilege, database, table)
        for name, privilege, database, table in catalog.rows["grants"]
        if name == grantee
    ]
